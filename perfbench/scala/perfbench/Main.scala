package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. run.py builds the classpath, launches this
  * with one mode, and turns the raw JSON it writes into metrics.
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *            [--sf DIR --sample FILE] [--rows N] [--days N]
  *   record   --sf DIR --dump DIR --out FILE   (query fingerprints + costs)
  *   selftest --work DIR
  */
object Main {

  val SetupReps = 3
  /** Warm calls a run makes at least, however long they take. */
  val MinWarm = 2

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opts = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = mode match {
      case "run" => run(opts); 0
      case "record" => record(opts); 0
      case "selftest" => SelfTest.run(Paths.get(opts("work")))
    }
    sys.exit(code)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(o: Map[String, String]): Unit = {
    val work = Paths.get(o("work")).toAbsolutePath
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val spark = session(work)
    val sessionS = Jvm.uptimeS()
    val w: Workload = o("workload") match {
      case "odns-refresh" => new Refresh(spark, work, seed, cores, o("rows").toInt)
      case "odns-backfill" =>
        new Backfill(spark, work, seed, cores, o("days").toInt, o("rows").toInt)
      case "queries-sf0.1" =>
        new QueryPass(spark, o("sf"), readSample(Paths.get(o("sample"))),
          Paths.get(System.getProperty("java.io.tmpdir")), cores)
    }
    val reps = (0 until SetupReps).map(k => Workload.time(w.setUp(k))._2)
    // traced runs take the peak live heap after set-up and after every
    // call, outside the timed calls; the collections it forces stay out
    // of untraced runs
    var peakHeap = if (trace) Jvm.liveHeapMb() else 0.0
    def measured(call: => Outcome): Outcome = {
      val t0 = System.nanoTime()
      val out =
        try call
        catch { case e: Throwable =>
          val s = (System.nanoTime() - t0) / 1e9
          Outcome(s, 1, Seq(s"call threw ${Workload.describe(e)}"), Seq(s))
        }
      if (trace) peakHeap = peakHeap.max(Jvm.liveHeapMb())
      out
    }
    val first = measured(w.call())
    val warm = mutable.ArrayBuffer.empty[Outcome]
    val tracedOut = mutable.ArrayBuffer.empty[Outcome]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (!trace) {
      do warm += measured(w.call()) while (System.nanoTime() < deadline || warm.size < MinWarm)
    } else {
      val counters = new EngineCounters
      val tracer = new Tracer(spark.sparkContext, counters)
      do {
        warm += measured(w.call())
        spark.sparkContext.addSparkListener(counters)
        tracer.clear()
        try tracedOut += measured(w.traced(tracer))
        finally spark.sparkContext.removeSparkListener(counters)
      } while (System.nanoTime() < deadline)
      // untraced calls bracket the traced ones, so a warm-up trend over
      // the run does not pass for tracing overhead
      warm += measured(w.call())
    }
    val all = (first +: warm.toSeq) ++ tracedOut
    val raw = Map(
      "xmx_mb" -> Jvm.xmxMb(),
      "session_s" -> sessionS,
      "setup_reps_s" -> reps,
      "first_s" -> first.wall,
      "warm_s" -> warm.map(_.wall),
      "op_s" -> warm.flatMap(_.opSeconds),
      "traced_s" -> tracedOut.map(_.wall),
      "layers" -> tracedOut.map(_.layers),
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failures.size).sum,
      "failures" -> all.flatMap(_.failures).take(20),
      "peak_heap_mb" -> peakHeap) ++ w.summary()
    Files.writeString(Paths.get(o("out")), Json(raw))
    w.close()
    spark.stop()
  }

  /** Lines of `name rows hash rows_only`, tab-separated. */
  def readSample(p: Path): Seq[Expected] =
    Files.readAllLines(p).toArray.toSeq.map(_.toString).filter(_.nonEmpty).map { l =>
      val Array(n, r, h, ro) = l.split('\t')
      Expected(n, r.toLong, h.toLong, ro == "1")
    }

  /** Fingerprint every registered query twice in one session (cold, then
    * warm and timed) and its Verify dump, so a recorded fingerprint is
    * known to be stable and to match output the oracle accepted. */
  def record(o: Map[String, String]): Unit = {
    val work = Paths.get(o("work")).toAbsolutePath
    val spark = session(work)
    val sf = o("sf")
    val oracle = SparkEntry.oracleSql.keySet
    val out = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      def fp(): Either[String, (Long, Long)] =
        try Right(Fingerprint(SparkEntry.queries(name)(spark, sf)))
        catch { case e: Throwable => Left(Workload.describe(e)) }
        finally spark.catalog.clearCache()
      val cold = fp()
      val (warm, secs) = Workload.time(fp())
      val dumpDir = Paths.get(o("dump"), name)
      val dump =
        if (!Files.isDirectory(dumpDir)) Left("no dump")
        else try Right(Fingerprint(spark.read.parquet(dumpDir.toString)))
        catch { case e: Throwable => Left(Workload.describe(e)) }
      System.err.println(s"[record] $name $cold $warm $dump ${"%.2f".format(secs)}s")
      def enc(e: Either[String, (Long, Long)]): Any =
        e.fold(err => Map("error" -> err), { case (r, h) => Seq(r, h.toString) })
      name -> Map("cold" -> enc(cold), "warm" -> enc(warm), "dump" -> enc(dump),
        "rows_only" -> !oracle(name), "seconds" -> secs)
    }
    Files.writeString(Paths.get(o("out")), Json(out.toMap))
    spark.stop()
  }
}
