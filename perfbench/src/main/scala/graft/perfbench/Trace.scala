package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** What Spark executed inside one time window. */
final case class ExecStats(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskMs: Long = 0, shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
    inputRecords: Long = 0) {
  def +(o: ExecStats): ExecStats = ExecStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskMs + o.taskMs,
    shuffleWriteBytes + o.shuffleWriteBytes, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords)
}

/** Records every job, stage and task Spark runs, keyed by the job's
  * submission time, so a caller can ask what ran between two instants
  * (the build, plan and execute phases of one query are three such
  * windows). Registered only in traced runs. */
final class ExecListener extends SparkListener {
  private final class Job(val start: Long) {
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var inputBytes = 0L
    var inputRecords = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs submitted in [fromMs, untilMs). Call [[Tracer.drain]] first. */
  def window(fromMs: Long, untilMs: Long): ExecStats = synchronized {
    jobs.valuesIterator.filter(j => j.start >= fromMs && j.start < untilMs)
      .foldLeft(ExecStats()) { (acc, j) =>
        acc + ExecStats(1, j.stages, j.tasks, j.failedTasks, j.taskMs,
          j.shuffleWrite, j.inputBytes, j.inputRecords)
      }
  }
}

/** One recorded span: a named interval with the span that caused it.
  * Spans of one run share `run`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, run: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the Spark listener. Spans nest by the
  * calling thread's stack; they are written out once, when the run
  * ends. A disabled tracer records nothing and costs one branch. */
final class Tracer(val enabled: Boolean, val run: String) {
  val listener = new ExecListener
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var on: Boolean = enabled

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Switch recording on or off for the next sweep or day; the
    * listener is detached while off, so an untraced sweep of a traced
    * run pays for no tracing at all. */
  def record(sc: SparkContext, enable: Boolean): Unit = if (enabled && enable != on) {
    on = enable
    if (enable) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
  }

  def drain(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerBusAccess.drain(sc)

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1, run) }
      }
    }

  def recorded: Seq[Span] = synchronized(spans.toSeq)

  /** Summed duration, in ms, of the spans named `name` that started in
    * [sinceNs, untilNs), with their count. */
  def total(name: String, sinceNs: Long, untilNs: Long): (Double, Long) = {
    val xs = recorded.filter(s => s.name == name && s.startNs >= sinceNs && s.startNs < untilNs)
    (xs.map(_.ms).sum, xs.length.toLong)
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = recorded.sortBy(_.startNs).map(s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Garbage-collection time and peak heap, over an interval. */
final class JvmMeter {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L

  def start(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs }
  def gcMsSinceStart: Double = (gcMs - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
