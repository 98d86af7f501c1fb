package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A query's expected output: row count and order-independent hash sum,
  * or the row count alone for queries that are rows-only by contract. */
final case class Expected(name: String, rows: Long, hash: Long, rowsOnly: Boolean)

object Fingerprint {

  private def needsWork(dt: DataType): Boolean = dt match {
    case DoubleType | _: MapType => true
    case ArrayType(et, _) => needsWork(et)
    case StructType(fs) => fs.exists(f => needsWork(f.dataType))
    case _ => false
  }

  /** Doubles are narrowed to float, which absorbs last-bit differences of
    * summation order; map entries are sorted so map order cannot matter. */
  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) if needsWork(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if needsWork(dt) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      val entries = map_entries(c)
      val norm = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      array_sort(if (needsWork(norm)) transform(entries, e => normalize(e, norm)) else entries)
    case _ => c
  }

  /** One aggregate over the output: row count plus the sum of a hash of
    * every column of each row. Unlike count() it forces every column. */
  def apply(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else hash(cols: _*).cast(LongType)
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** `queries-sf0.1`: a sampled pass over `SparkEntry.queries`, each query
  * split into build (the registry call), plan (forcing the executed plan)
  * and execute (the fingerprint aggregate). */
final class QueryPass(spark: SparkSession, sfDir: String, sample: Seq[Expected],
    tmpDir: Path, cores: Int) extends Workload {

  /** New snapshot-store directories each pass created, in pass order. */
  private val storeBuilds = collection.mutable.ArrayBuffer.empty[Int]

  def family(name: String): String = name.takeWhile(_ != '_') match {
    case f if f.startsWith("q") => "q"
    case f => f
  }

  /** Set-up reads each table's footer; nothing else is cached here. */
  def setUp(rep: Int): Unit = {
    val tables = Files.list(java.nio.file.Paths.get(sfDir))
    try tables.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
      .foreach(t => spark.read.parquet(t).schema)
    finally tables.close()
  }

  private def snapshotDirs(): Set[String] = {
    val s = Files.list(tmpDir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_edges_")).toSet
    finally s.close()
  }

  private def check(e: Expected, rows: Long, hash: Long): Seq[String] =
    if (rows != e.rows) Seq(s"${e.name}: $rows rows, expected ${e.rows}")
    else if (!e.rowsOnly && hash != e.hash) Seq(s"${e.name}: hash $hash, expected ${e.hash}")
    else Nil

  private def one(e: Expected, t: Option[Tracer]): (Double, Seq[String]) = {
    def span[T](n: String)(b: => T): T = t.fold(b)(_.span(n)(b))
    val t0 = System.nanoTime()
    try {
      val df = span("SparkEntry.build") { SparkEntry.queries(e.name)(spark, sfDir) }
      span("SparkEntry.plan") { df.queryExecution.executedPlan }
      val (rows, hash) = span(s"operators.${family(e.name)}.exec") { Fingerprint(df) }
      ((System.nanoTime() - t0) / 1e9, check(e, rows, hash))
    } catch {
      case ex: Throwable =>
        ((System.nanoTime() - t0) / 1e9, Seq(s"${e.name} threw ${Workload.describe(ex)}"))
    } finally spark.catalog.clearCache() // internal persists must not leak across queries
  }

  private def pass(t: Option[Tracer]): Outcome = {
    val before = snapshotDirs()
    val t0 = System.nanoTime()
    val results = sample.map(e => one(e, t))
    val wall = (System.nanoTime() - t0) / 1e9
    storeBuilds += snapshotDirs().diff(before).size
    Outcome(wall, sample.size, results.flatMap(_._2), results.map(_._1))
  }

  def call(): Outcome = pass(None)

  def traced(t: Tracer): Outcome = {
    val o = t.span("pass") { pass(Some(t)) }
    val top = t.spans.last
    val kids = t.children(top)
    def sec(p: String => Boolean) = kids.filter(s => p(s.name)).map(_.seconds).sum
    val families = Seq("q", "txt", "sim", "dd", "pipe", "mm", "odns")
    val build = kids.filter(_.name == "SparkEntry.build")
    val layers = Workload.engine("spark", top, cores) ++ Map(
      "SparkEntry.build_s" -> build.map(_.seconds).sum,
      "SparkEntry.build_jobs" -> build.map(_.counts.jobs).sum.toDouble,
      "SparkEntry.plan_s" -> sec(_ == "SparkEntry.plan"),
      "operators.exec_s" -> sec(_.startsWith("operators.")),
      "operators.pass_s" -> top.seconds,
      "operators.self_s" -> Span.selfSeconds(top, kids)) ++
      families.map(f => s"operators.$f.exec_s" -> sec(_ == s"operators.$f.exec")).toMap
    o.copy(layers = layers)
  }

  def summary(): Map[String, Any] = Map("store_builds" -> storeBuilds.toSeq)

  def close(): Unit = ()
}
