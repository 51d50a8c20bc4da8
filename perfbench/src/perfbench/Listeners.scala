package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Always-on cost counters for the end-to-end metrics: shuffle bytes
  * written (from completed stages) and block-manager storage (from block
  * updates). The storage peak counts only blocks created since the last
  * [[resetPeak]], so blocks a previous pass left for the context cleaner do
  * not blur it. */
final class Counters extends SparkListener {
  private var shuffleWritten = 0L
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var older = Set.empty[String]
  private var fresh = 0L
  private var peak = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(e.stageInfo.taskMetrics).foreach(m => shuffleWritten += m.shuffleWriteMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = s"${i.blockManagerId.executorId}/${i.blockId.name}"
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    val delta = size - blocks.getOrElse(key, 0L)
    stored += delta
    if (size == 0L) blocks.remove(key) else blocks(key) = size
    if (!older(key)) {
      fresh += delta
      peak = math.max(peak, fresh)
    }
  }

  def shuffleBytes: Long = synchronized(shuffleWritten)
  def storageBytes: Long = synchronized(stored)
  def peakBytes: Long = synchronized(peak)
  /** Start a new peak window over the blocks created from now on. */
  def resetPeak(): Unit = synchronized { older = blocks.keySet.toSet; fresh = 0L; peak = 0L }
}

/** A span of the trace: a pass, a step, a probe or the whole run. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, var endMs: Long = -1L)

/** Counters of the jobs attributed to one span (not its children). */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var output = 0L
  var skewMax = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "sched_wait_s" -> schedMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "output_mb" -> output / 1e6, "skew_max" -> skewMax,
    "job_intervals_ms" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
}

/** The traced run's listener. A job belongs to the span named by the
  * `perfbench.span` local property of the thread that submitted it; Spark
  * copies local properties into the threads it starts for broadcasts and
  * stream executions, so their jobs land in the span that caused them. */
final class Tracer extends SparkListener {
  private val stats = mutable.HashMap.empty[Long, SpanStats]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val taskDurations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def of(span: Long): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(-1L)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = of(jobSpan.getOrElse(e.jobId, -1L))
    s.jobs += 1
    s.jobIntervals += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageSpan.getOrElse(e.stageId, -1L))
    val info = e.taskInfo
    s.tasks += 1
    taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    Option(e.taskMetrics).foreach { m =>
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
      // the scheduler delay Spark's UI reports: task wall time not spent
      // deserializing, running, or serializing and fetching the result
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = of(stageSpan.getOrElse(e.stageInfo.stageId, -1L))
    s.stages += 1
    taskDurations.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val median = sorted(sorted.size / 2)
      if (median > 0) s.skewMax = math.max(s.skewMax, sorted.last.toDouble / median)
    }
  }

  def statsOf(span: Long): SpanStats = synchronized(stats.getOrElse(span, new SpanStats))
  def snapshot: Map[Long, Map[String, Any]] = synchronized(stats.map { case (k, v) => k -> v.toMap }.toMap)
}

object Tracer {
  val Key = "perfbench.span"
}
