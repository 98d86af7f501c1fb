package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays

import org.apache.spark.sql.functions._

/** Checks of the benchmark's own machinery; exit code 1 if any fails. */
object SelfTest {

  def run(work: Path): Int = {
    val results = Seq(
      "generator is deterministic per seed" -> generatorDeterminism(work),
      "self time subtracts the union of child intervals" -> selfTime(),
      "fingerprint ignores row order and partitioning" -> fingerprintOrder(work))
    results.foreach { case (n, ok) => println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $n") }
    if (results.forall(_._2)) 0 else 1
  }

  def generatorDeterminism(work: Path): Boolean = {
    def bytes(dir: String, seed: Long): Array[Byte] = {
      val a = Gen.write(work.resolve(dir), "tcp", "2026-08-01", 2000, seed)
      Files.readAllBytes(a.path)
    }
    val a = bytes("a", 7)
    val b = bytes("b", 7)
    val c = bytes("c", 8)
    val u = Gen.write(work.resolve("u"), "udp", "2026-08-01", 2000, 7)
    val header = new String(new java.util.zip.GZIPInputStream(Files.newInputStream(u.path))
      .readAllBytes(), "UTF-8").linesIterator.next()
    Arrays.equals(a, b) && !Arrays.equals(a, c) &&
      header.split(';').length == 17 && Gen.TcpColumns.length == 18
  }

  def selfTime(): Boolean = {
    def s(id: Int, parent: Int, a: Long, b: Long) = Span(id, parent, "x", a, b, Counts())
    val top = s(0, -1, 0, 100)
    // children [10,30] and [20,40] overlap: they cover [10,40]; [90,120]
    // sticks out of the span and counts only up to 100
    val kids = Seq(s(1, 0, 10, 30), s(2, 0, 20, 40), s(3, 0, 90, 120))
    val got = Span.selfSeconds(top, kids) * 1e9
    math.abs(got - 60) < 1e-6 && Span.selfSeconds(top, Nil) * 1e9 == 100
  }

  def fingerprintOrder(work: Path): Boolean = {
    val spark = Main.session(work)
    try {
      val df = spark.range(5000).select(
        col("id"), (col("id") * 0.1).as("d"), array(col("id"), col("id") + 1).as("a"),
        map(col("id") % 3, col("id").cast("string")).as("m"),
        struct(col("id").as("x"), (col("id") / 7.0).as("y")).as("s"))
      val base = Fingerprint(df)
      val shuffled = Fingerprint(df.repartition(7).orderBy(rand(3)))
      val changed = Fingerprint(df.withColumn("id", when(col("id") === 42, 43).otherwise(col("id"))))
      base == shuffled && base != changed && base._1 == 5000
    } finally spark.stop()
  }
}
