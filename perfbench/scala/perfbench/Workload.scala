package perfbench

/** What one timed call did: how many operations it attempted, which of
  * them failed (a throw or a failed output check), each operation's
  * latency, and, for a traced call, its per-layer figures. */
final case class Outcome(wall: Double, attempted: Int, failures: Seq[String],
    opSeconds: Seq[Double], layers: Map[String, Double] = Map.empty)

/** A benchmark workload. The untraced call invokes the program's public
  * entry point as a user would; the traced call re-composes it from the
  * public functions of each module with a span around each call. */
trait Workload {
  /** Build inputs and store state from scratch; called several times so
    * set-up time is a median. The last set-up is the one the calls use. */
  def setUp(rep: Int): Unit

  def call(): Outcome

  def traced(t: Tracer): Outcome

  /** Extra raw figures for run.py (row counts, inputs, store builds). */
  def summary(): Map[String, Any]

  def close(): Unit
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def attempt(what: String)(body: => Seq[String]): Seq[String] =
    try body
    catch { case e: Throwable => Seq(s"$what threw ${describe(e)}") }

  def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)

  /** Figures every traced call reports from its outermost span. */
  def engine(prefix: String, s: Span, cores: Int): Map[String, Double] = {
    val c = s.counts
    val taskS = c.taskMs / 1000.0
    Map(
      s"$prefix.jobs" -> c.jobs.toDouble,
      s"$prefix.stages" -> c.stages.toDouble,
      s"$prefix.tasks" -> c.tasks.toDouble,
      s"$prefix.task_s" -> taskS,
      s"$prefix.idle_core_s" -> (cores * s.seconds - taskS),
      s"$prefix.core_util" -> util(taskS, s.seconds, cores),
      s"$prefix.s_per_job" -> (if (c.jobs > 0) s.seconds / c.jobs else 0.0),
      s"$prefix.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      s"$prefix.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      s"$prefix.spill_bytes" -> c.spill.toDouble,
      s"$prefix.gc_s" -> c.taskGcMs / 1000.0,
      "jvm.gc_s" -> c.jvmGcMs / 1000.0)
  }

  def util(taskS: Double, wall: Double, cores: Int): Double =
    if (wall > 0) taskS / (cores * wall) else 0.0

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
