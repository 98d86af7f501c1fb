package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, SQLException}

import graft.OdnsPipeline
import graft.functions.Typers
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.{FileDiscovery, OdnsCsv}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared by both ingest workloads: the archives of the current set-up,
  * the typing-reject probe and the read+type probe of the traced run. */
abstract class IngestWorkload(spark: SparkSession, work: Path, seed: Long, cores: Int)
    extends Workload {

  val Protocols: Seq[String] = OdnsPipeline.Protocols
  /** Protocol of rows the pipeline never refreshes; they must survive. */
  val Sentinel = "icmp"

  protected var root: Path = _
  /** The archives each call ingests, per protocol. */
  protected var inputs: Map[String, Seq[Gen.Archive]] = Map.empty

  protected def repDir(rep: Int): Path = work.resolve(s"rep$rep")
  protected def rows(proto: String): Long = inputs(proto).map(_.rows).sum
  def rowsPerCall: Long = Protocols.map(rows).sum

  protected def paths(proto: String): Seq[String] = inputs(proto).map(_.path.toString)

  /** Non-empty raw values that the program's typers turn into NULL, per
    * field, counted with the public `Typers` functions over the raw text. */
  protected def typingRejects(proto: String): Map[String, Long] = {
    val raw = spark.read.option("sep", ";").option("header", "true")
      .csv(paths(proto): _*)
    val typed = raw.columns.toSeq.collect {
      case c if Gen.TimestampFields(c) => c -> Typers.tryOdnsTimestamp(col(c))
      case c if Gen.AsnFields(c) => c -> Typers.tryDouble(col(c))
    }
    val aggs = typed.map { case (c, t) =>
      sum(when(col(c).isNotNull && col(c) =!= "" && t.isNull, 1L).otherwise(0L)).as(c)
    }
    val r = raw.agg(aggs.head, aggs.tail: _*).head()
    typed.indices.map(i => typed(i)._1 -> Option(r.get(i)).fold(0L)(_.toString.toLong)).toMap
  }

  /** Expected rejects from the generator's own counts. */
  protected def injectedRejects(proto: String): Map[String, Long] =
    inputs(proto).flatMap(_.rejects).groupMapReduce(_._1)(_._2)(_ + _)

  /** Forced scan of the same archives through the program's reader and
    * typers, alone: the pipeline fuses it with the sink, so the sink's
    * share is the append span minus this one. */
  protected def readAndType(t: Tracer): Map[String, Double] = {
    val spans = Protocols.map { proto =>
      t.span("sources.read_type") {
        OdnsCsv.read(spark, proto, paths(proto): _*)
          .write.format("noop").mode("overwrite").save()
      }
      t.spans.last
    }
    val s = spans.map(_.seconds).sum
    val task = spans.map(_.counts.taskMs).sum / 1000.0
    val rejects = t.span("functions.typing") {
      Protocols.map(p => typingRejects(p).values.sum).sum
    }
    val typedValues = Protocols.map { p =>
      rows(p) * Gen.columns(p).count(c => Gen.TimestampFields(c) || Gen.AsnFields(c))
    }.sum
    Map(
      "sources.read_type_s" -> s,
      "sources.rows_per_s" -> rowsPerCall / s,
      "sources.tasks" -> spans.map(_.counts.tasks).sum.toDouble,
      "sources.core_util" -> Workload.util(task, s, cores),
      "functions.typing_rejects" -> rejects.toDouble,
      "functions.reject_ratio" -> rejects.toDouble / typedValues)
  }

  /** The reject counts must equal what the generator injected. */
  protected def rejectCheck(): Seq[String] = Protocols.flatMap { p =>
    val got = typingRejects(p).filter(_._2 > 0)
    val want = injectedRejects(p)
    if (got == want) Nil else Seq(s"$p typing rejects $got, injected $want")
  }

  protected def discover(t: Tracer, proto: String, newestOnly: Boolean): Seq[String] =
    t.span("sources.discover") {
      val dir = FileDiscovery.dataPath(root.toString, Gen.Year, proto)
      val conf = spark.sparkContext.hadoopConfiguration
      if (newestOnly)
        FileDiscovery.mostRecent(dir, proto, OdnsPipeline.ArchiveExtension, conf).toSeq
      else FileDiscovery.all(dir, proto, OdnsPipeline.ArchiveExtension, conf)
    }

  /** How far the rows the pipeline reports are from the rows it loaded. */
  protected def reportedRowsError(results: Seq[OdnsPipeline.Result]): Double =
    results.map(r => math.abs(r.rows - rows(r.protocol))).sum.toDouble

  def summary(): Map[String, Any] = Map(
    "rows_per_call" -> rowsPerCall,
    "archives" -> Protocols.flatMap(p => inputs(p).map { a =>
      Map("path" -> a.path.toString, "protocol" -> p, "rows" -> a.rows,
        "rejects" -> a.rejects.values.sum)
    }))
}

/** `odns-refresh`: the reference's run shape. One large newest archive per
  * protocol among older decoys, refreshed by DELETE + append into an
  * on-disk embedded Derby table created with the reference's unquoted
  * DDL. Every call deletes and re-inserts each protocol's rows. */
final class Refresh(spark: SparkSession, work: Path, seed: Long, cores: Int, rowsEach: Int)
    extends IngestWorkload(spark, work, seed, cores) {

  private val Table = "odns_entries"
  private val SentinelRows = 500
  private var dbPath: Path = _
  private var target: JdbcSink.Target = _
  private var sentinelSum = 0.0

  private def conn(): Connection = target.connection()

  private def shutdown(path: Path): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true").close()
    catch { case _: SQLException => () } // Derby signals a clean shutdown by throwing

  private def ddl: String = {
    val cols = OdnsCsv.TableColumns.collect {
      case c @ ("timestamp_request" | "timestamp_response") => s"$c TIMESTAMP"
      case c @ ("asn_request" | "asn_response" | "asn_arecord") => s"$c DOUBLE"
      case c => s"$c VARCHAR(128)"
    }
    s"CREATE TABLE $Table (${cols.mkString(", ")})"
  }

  def setUp(rep: Int): Unit = {
    if (dbPath != null) { shutdown(dbPath); Workload.deleteTree(dbPath.getParent.getParent) }
    val dir = repDir(rep)
    root = dir.resolve("archives")
    val day = Math.floorMod(seed, 28).toInt
    inputs = Protocols.map { p =>
      val pdir = Gen.protocolDir(root, p)
      val newest = Gen.write(pdir, p, Gen.date(day), rowsEach, seed)
      // decoys: an older archive, one whose name sorts later but whose
      // mtime is older, and a newer file without the .gz extension
      val older = Gen.write(pdir, p, Gen.date(day - 1), 200, seed + 1)
      val laterName = Gen.write(pdir, p, Gen.date(day + 60), 200, seed + 2)
      val plain = Gen.write(pdir, p, Gen.date(day + 1), 200, seed + 3, ext = "csv")
      val now = System.currentTimeMillis()
      older.path.toFile.setLastModified(now - 3 * 86400000L)
      laterName.path.toFile.setLastModified(now - 2 * 86400000L)
      newest.path.toFile.setLastModified(now - 86400000L)
      plain.path.toFile.setLastModified(now)
      p -> Seq(newest)
    }.toMap
    dbPath = dir.resolve("derby").resolve("odns")
    target = JdbcSink.Target(s"jdbc:derby:$dbPath;create=true", Table)
    val c = conn()
    try {
      val st = c.createStatement()
      try st.executeUpdate(ddl) finally st.close()
      val ins = c.prepareStatement(
        s"INSERT INTO $Table (protocol, ip_request, asn_request, scan_date) VALUES (?, ?, ?, ?)")
      try {
        (0 until SentinelRows).foreach { i =>
          ins.setString(1, Sentinel); ins.setString(2, s"10.0.${i / 256}.${i % 256}")
          ins.setDouble(3, i.toDouble); ins.setString(4, "2026-01-01"); ins.addBatch()
        }
        ins.executeBatch()
      } finally ins.close()
    } finally c.close()
    sentinelSum = (0 until SentinelRows).sum.toDouble
    // preload: the store already holds the rows a previous identical
    // refresh left, so every timed call deletes as much as it inserts
    Protocols.foreach(p => JdbcSink.append(OdnsCsv.read(spark, p, paths(p): _*), target))
  }

  def call(): Outcome = {
    val (results, wall) = Workload.time(OdnsPipeline.run(spark, root.toString, target, Gen.Year))
    val picked = results.flatMap(r => r.archive.map(a => r.protocol -> a)).toMap
    val wrongPick = Protocols.filterNot(p =>
      picked.get(p).exists(_.endsWith(inputs(p).head.path.getFileName.toString)))
      .map(p => s"$p: discovery picked ${picked.get(p)}")
    Outcome(wall, 1, wrongPick ++ Workload.attempt("check")(check()), Seq(wall))
  }

  private def query(sql: String, args: String*): Seq[Any] = {
    val c = conn()
    try {
      val st = c.prepareStatement(sql)
      try {
        args.zipWithIndex.foreach { case (a, i) => st.setString(i + 1, a) }
        val rs = st.executeQuery()
        rs.next()
        (1 to rs.getMetaData.getColumnCount).map(rs.getObject)
      } finally st.close()
    } finally c.close()
  }

  /** After a call: each protocol holds exactly its generated rows, counted
    * with its own WHERE; NULLs per field equal the injected empty and bad
    * values; scan_date is the archive's filename date; the sentinel rows
    * are untouched. */
  def check(): Seq[String] = {
    val cols = OdnsCsv.TableColumns
    val perProto = Protocols.flatMap { p =>
      val a = inputs(p).head
      val r = query(s"SELECT COUNT(*), " + cols.map(c => s"COUNT($c)").mkString(", ") +
        s", SUM(CASE WHEN scan_date = ? THEN 1 ELSE 0 END) FROM $Table WHERE protocol = ?",
        a.date, p).map(v => if (v == null) 0L else v.toString.toLong)
      val n = r.head
      val fieldErrs = cols.zipWithIndex.flatMap { case (c, i) =>
        val want = if (c == "protocol" || c == "scan_date") 0L else a.expectedNulls(c)
        val got = n - r(i + 1)
        if (got == want) None else Some(s"$p.$c NULLs $got, expected $want")
      }
      (if (n == a.rows) Nil else Seq(s"$p holds $n rows, generated ${a.rows}")) ++
        fieldErrs ++
        (if (r.last == a.rows) Nil else Seq(s"$p scan_date matches ${r.last} of ${a.rows}"))
    }
    val s = query(s"SELECT COUNT(*), SUM(asn_request) FROM $Table WHERE protocol = ?", Sentinel)
    val sentinel =
      if (s.head.toString.toLong == SentinelRows && s(1).toString.toDouble == sentinelSum) Nil
      else Seq(s"sentinel rows changed: $s")
    perProto ++ sentinel
  }

  /** The pipeline re-composed from its modules, one span per call. */
  def traced(t: Tracer): Outcome = {
    val probe = readAndType(t)
    val before = Protocols.map(p =>
      query(s"SELECT COUNT(*) FROM $Table WHERE protocol = ?", p).head.toString.toLong).sum
    val results = t.span("OdnsPipeline") {
      Protocols.map { proto =>
        val archives = discover(t, proto, newestOnly = true)
        val df = OdnsCsv.read(spark, proto, archives: _*)
        t.span("sinks.jdbc.delete") {
          if (JdbcSink.tableExists(target)) JdbcSink.deleteWhere(target, "protocol", proto)
        }
        t.span("sinks.jdbc.append") { JdbcSink.append(df, target) }
        OdnsPipeline.Result(proto, archives.lastOption,
          t.span("sinks.jdbc.count") { JdbcSink.count(target) })
      }
    }
    val top = t.spans.last
    def sumOf(name: String) = t.children(top).filter(_.name == name)
    val append = sumOf("sinks.jdbc.append")
    val appendS = append.map(_.seconds).sum
    val appendTask = append.map(_.counts.taskMs).sum / 1000.0
    val countS = sumOf("sinks.jdbc.count").map(_.seconds).sum
    val layers = probe ++ Workload.engine("spark", top, cores) ++ Map(
      "sources.discover_s" -> sumOf("sources.discover").map(_.seconds).sum,
      "sinks.jdbc.delete_s" -> sumOf("sinks.jdbc.delete").map(_.seconds).sum,
      "sinks.jdbc.rows_deleted" -> before.toDouble,
      "sinks.jdbc.append_s" -> appendS,
      "sinks.jdbc.insert_s" -> (appendS - probe("sources.read_type_s")),
      "sinks.jdbc.tasks" -> append.map(_.counts.tasks).sum.toDouble,
      "sinks.jdbc.core_util" -> Workload.util(appendTask, appendS, cores),
      "sinks.jdbc.count_s" -> countS,
      "sinks.jdbc.bytes_per_row" -> storedBytesPerRow(),
      "OdnsPipeline.wall_s" -> top.seconds,
      "OdnsPipeline.self_s" -> Span.selfSeconds(top, t.children(top)),
      "OdnsPipeline.children_s" -> t.children(top).map(_.seconds).sum,
      "OdnsPipeline.readback_s" -> countS,
      "OdnsPipeline.reported_rows_error" -> reportedRowsError(results))
    val fails = Workload.attempt("check")(check() ++ rejectCheck())
    Outcome(top.seconds, 1, fails, Seq(top.seconds), layers)
  }

  /** On-disk size of the Derby database per stored row. */
  private def storedBytesPerRow(): Double = {
    val s = Files.walk(dbPath)
    val bytes = try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    bytes.toDouble / (rowsPerCall + SentinelRows)
  }

  def close(): Unit = if (dbPath != null) shutdown(dbPath)
}

/** `odns-backfill`: the lake shape. Many daily archives per protocol land
  * through `runToLake` as parquet partitioned by protocol/scan_date; each
  * call re-ingests them through dynamic partition overwrite. */
final class Backfill(spark: SparkSession, work: Path, seed: Long, cores: Int,
    days: Int, rowsEach: Int) extends IngestWorkload(spark, work, seed, cores) {

  private var lake: Path = _
  private val SentinelDate = "2026-01-01"
  private var sentinelRows = 0L

  def setUp(rep: Int): Unit = {
    if (lake != null) Workload.deleteTree(lake.getParent)
    val dir = repDir(rep)
    root = dir.resolve("archives")
    inputs = Protocols.map { p =>
      p -> (0 until days).map(d =>
        Gen.write(Gen.protocolDir(root, p), p, Gen.date(d), rowsEach, seed + d))
    }.toMap
    lake = dir.resolve("lake")
    // a partition of another protocol that no call refreshes
    val s = Gen.write(dir.resolve("sentinel"), "udp", SentinelDate, 300, seed)
    sentinelRows = s.rows
    ParquetSink.refreshPartitions(
      OdnsCsv.read(spark, "udp", s.path.toString).withColumn("protocol", lit(Sentinel)),
      lake.toString, Seq("protocol", "scan_date"))
  }

  def call(): Outcome = {
    val (_, wall) = Workload.time(
      OdnsPipeline.runToLake(spark, root.toString, lake.toString, Gen.Year))
    Outcome(wall, 1, Workload.attempt("check")(check()), Seq(wall))
  }

  /** After a call: one partition per archive holding exactly its rows
    * (so scan_date is the filename date), NULLs per field as injected,
    * and the sentinel partition intact. */
  def check(): Seq[String] = {
    val cols = OdnsCsv.TableColumns.filterNot(c => c == "protocol" || c == "scan_date")
    val got = spark.read.parquet(lake.toString)
      .groupBy("protocol", "scan_date")
      .agg(count(lit(1)), cols.map(c => count(col(c))): _*)
      .collect()
      .map(r => (r.getString(0), String.valueOf(r.get(1))) ->
        (2 until r.length).map(r.getLong))
      .toMap
    val want = Protocols.flatMap(p => inputs(p).map(a => (p, a.date) -> a)).toMap
    val missing = want.keySet.diff(got.keySet).toSeq.map(k => s"partition $k missing")
    val extra = got.keySet.diff(want.keySet + (Sentinel -> SentinelDate)).toSeq
      .map(k => s"unexpected partition $k")
    val perArchive = want.toSeq.flatMap { case (k, a) =>
      got.get(k).toSeq.flatMap { v =>
        val n = v.head
        (if (n == a.rows) Nil else Seq(s"$k holds $n rows, generated ${a.rows}")) ++
          cols.zipWithIndex.flatMap { case (c, i) =>
            val nulls = n - v(i + 1)
            if (nulls == a.expectedNulls(c)) None
            else Some(s"$k.$c NULLs $nulls, expected ${a.expectedNulls(c)}")
          }
      }
    }
    val sentinel = got.get(Sentinel -> SentinelDate).map(_.head) match {
      case Some(n) if n == sentinelRows => Nil
      case other => Seq(s"sentinel partition holds $other rows, expected $sentinelRows")
    }
    missing ++ extra ++ perArchive ++ sentinel
  }

  private def lakeFiles(): Seq[Path] = Protocols.flatMap { p =>
    val d = lake.resolve(s"protocol=$p")
    if (!Files.exists(d)) Nil
    else {
      val s = Files.walk(d)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.asInstanceOf[Path])
      finally s.close()
    }
  }

  def traced(t: Tracer): Outcome = {
    val probe = readAndType(t)
    val results = t.span("OdnsPipeline") {
      Protocols.map { proto =>
        val archives = discover(t, proto, newestOnly = false)
        val df = OdnsCsv.read(spark, proto, archives: _*)
        t.span("sinks.parquet.write") {
          ParquetSink.refreshPartitions(df, lake.toString, Seq("protocol", "scan_date"))
        }
        val n = t.span("OdnsPipeline.readback") {
          spark.read.parquet(lake.toString).filter(col("protocol") === proto).count()
        }
        OdnsPipeline.Result(proto, archives.lastOption, n)
      }
    }
    val top = t.spans.last
    def of(name: String) = t.children(top).filter(_.name == name)
    val write = of("sinks.parquet.write")
    val writeS = write.map(_.seconds).sum
    val files = lakeFiles()
    val bytes = files.map(Files.size(_)).sum
    val layers = probe ++ Workload.engine("spark", top, cores) ++ Map(
      "sources.discover_s" -> of("sources.discover").map(_.seconds).sum,
      "sinks.parquet.write_s" -> writeS,
      "sinks.parquet.files" -> files.size.toDouble,
      "sinks.parquet.bytes" -> bytes.toDouble,
      "sinks.parquet.bytes_per_row" -> bytes.toDouble / rowsPerCall,
      "sinks.parquet.core_util" ->
        Workload.util(write.map(_.counts.taskMs).sum / 1000.0, writeS, cores),
      "OdnsPipeline.wall_s" -> top.seconds,
      "OdnsPipeline.self_s" -> Span.selfSeconds(top, t.children(top)),
      "OdnsPipeline.children_s" -> t.children(top).map(_.seconds).sum,
      "OdnsPipeline.readback_s" -> of("OdnsPipeline.readback").map(_.seconds).sum,
      "OdnsPipeline.reported_rows_error" -> reportedRowsError(results))
    val fails = Workload.attempt("check")(check() ++ rejectCheck())
    Outcome(top.seconds, 1, fails, Seq(top.seconds), layers)
  }

  def close(): Unit = ()
}
