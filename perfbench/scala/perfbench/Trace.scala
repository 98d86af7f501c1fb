package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters at one instant: what the Spark scheduler and the JVM
  * have done so far. A span's counts are the difference of two of these. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, taskGcMs: Long = 0, jvmGcMs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, taskGcMs - o.taskGcMs, jvmGcMs - o.jvmGcMs)
}

/** Listener owned by the benchmark: running totals of jobs, completed
  * stages, tasks, task run time, shuffle bytes, spill and task GC time. */
final class EngineCounters extends SparkListener {
  private val jobs, stages, tasks, taskMs, shW, shR, spill, gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def now(): Counts = Counts(jobs.get, stages.get, tasks.get, taskMs.get, shW.get,
    shR.get, spill.get, gcMs.get, Jvm.gcMs())
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after a full collection: what the program holds,
    * free of when the collector last happened to run. Spark frees
    * broadcast and cached blocks of unreachable objects from a cleaner
    * thread after the first collection, so a second one follows it. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def xmxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** One timed interval around a call into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Self time: the span's duration minus the part of it that the union
    * of its children's intervals covers (children may overlap). */
  def selfSeconds(span: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (c.startNs.max(span.startNs), c.endNs.min(span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (span.endNs - span.startNs - covered) / 1e9
  }
}

/** Records spans in memory, each with the engine counts accrued inside it
  * (the listener bus is drained at both ends so late task events land in
  * the right span). */
final class Tracer(sc: SparkContext, counters: EngineCounters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def snapshot(): Counts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    counters.now()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = snapshot()
      stack = stack.tail
      spans += Span(id, parent, name, t0, t1, c1 - c0)
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def clear(): Unit = spans.clear()
}
