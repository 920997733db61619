package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Counts and spans of the Spark execution layer, attributed by job group.
  *
  * The harness sets one job group per (query, pass, phase); every job,
  * stage and task event is filed under its group, so the per-query spans
  * the harness records and the counts here share one identifier. Callbacks
  * arrive on Spark's listener-bus thread; readers call `drain` once the bus
  * is empty (`org.apache.spark.PerfbenchBus.drain`).
  */
class Listener extends SparkListener {

  /** Task-metric sums of one job group. */
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var taskDurationMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L; var peakExecMem = 0L
    var inputRows = 0L; var inputBytes = 0L; var outputBytes = 0L
  }

  /** A job or stage span; `parent` is the job group (jobs) or job id (stages). */
  final case class Span(kind: String, id: Int, parent: String, startMs: Long, endMs: Long)

  private val counts = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  private def of(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    of(g).jobs += 1
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach { s => stageGroup.getOrElseUpdate(s, g); stageJob.getOrElseUpdate(s, e.jobId) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => spans += Span("job", e.jobId, g, t0, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    of(stageGroup.getOrElse(s.stageId, "none")).stages += 1
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      spans += Span("stage", s.stageId, stageJob.getOrElse(s.stageId, -1).toString, t0, t1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
    c.taskDurationMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.inputRows += m.inputMetrics.recordsRead; c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counts per job group and the finished job/stage spans, then reset. */
  def drain(): (Map[String, Counts], Seq[Span]) = synchronized {
    val out = (counts.toMap, spans.toList)
    counts.clear(); spans.clear(); stageGroup.clear(); stageJob.clear()
    out
  }
}
