package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters from a `SparkListener` the benchmark attaches: jobs,
  * stages, tasks, task CPU and GC, shuffle bytes, spill and peak
  * execution memory — in total and per job group, so the benchmark can
  * tell which stages ran for which timed execution. */
final class SparkProbe extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskCpuNs = 0L; var taskGcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var peakExecMem = 0L
    /** Completed stages that wrote shuffle output (shuffle map stages). */
    var shuffleMapStages = 0L
    /** Task durations (ms) by stage. */
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val total = new Counts
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private var jobsOpen = 0

  private def each(stageId: Int)(f: Counts => Unit): Unit = {
    f(total); stageGroup.get(stageId).foreach(g => f(byGroup.getOrElseUpdate(g, new Counts)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsOpen += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(gid => e.stageIds.foreach(s => stageGroup(s) = gid))
    total.jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsOpen -= 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    val shuffled = m != null &&
      (m.shuffleWriteMetrics.bytesWritten > 0 || m.shuffleWriteMetrics.recordsWritten > 0)
    each(e.stageInfo.stageId) { c =>
      c.stages += 1
      if (shuffled) c.shuffleMapStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    each(e.stageId) { c =>
      c.tasks += 1
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Listener events arrive asynchronously: wait until every started
    * job has been seen to end, then a beat for trailing task events. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (synchronized(jobsOpen) > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def totals: Counts = total
  def group(g: String): Counts = synchronized(byGroup.getOrElse(g, new Counts))
}

/** Micro-batch progress of every streaming query, read through
  * `StreamingQueryListener`: per-trigger durations and state-store
  * metrics. */
final class StreamProbe extends StreamingQueryListener {
  var batches = 0L
  val durMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var stateCommitMs = 0L
  var stateMemMax = 0L
  /** Rows in state at each query's last progress. */
  val lastRows = mutable.HashMap.empty[java.util.UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    p.durationMs.asScala.foreach { case (k, v) => durMs(k) += v.longValue }
    p.stateOperators.foreach { op =>
      stateCommitMs += op.commitTimeMs
      stateMemMax = math.max(stateMemMax, op.memoryUsedBytes)
    }
    lastRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }

  def reset(): Unit = synchronized {
    batches = 0; durMs.clear(); stateCommitMs = 0; stateMemMax = 0; lastRows.clear()
  }
}

/** JVM-wide GC time and heap high-water mark. */
object JvmProbe {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU time of this whole process (all threads), seconds. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }
}

/** In-memory spans and counters of a traced run, written out at the end.
  * A span is recorded around a call into one layer from the benchmark's
  * own code; its self time is its duration minus the time its child
  * spans cover. */
final class Trace(val on: Boolean) {
  case class Span(id: Int, parent: Int, layer: String, name: String, unit: String,
      startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val t0 = System.nanoTime()

  def span[T](layer: String, name: String, unit: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, unit, s, System.nanoTime())
      }
    }

  /** Self seconds per layer. */
  def selfTimes: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def json: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""unit":"${s.unit}","start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9}}"""
  }.mkString("[", ",\n", "]")
}
