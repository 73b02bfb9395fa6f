package graft

import java.util.concurrent.TimeoutException

import scala.collection.mutable

import org.apache.spark.{GraftSparkShim, SparkContext}
import org.apache.spark.scheduler._

/** The Spark events of the jobs that one block of driver code ran, kept as
  * Spark's own objects: every task end (with its `TaskInfo` and
  * `TaskMetrics`), every completed stage and each job's start and end time.
  * These are the MapReduce cost figures (tasks, shuffle records and bytes,
  * spill) per job, read after the fact instead of counted by hand.
  *
  * [[TaskLog.of]] tags the block's jobs with a fresh job group (threads the
  * block starts inherit it), so jobs that other threads run meanwhile are
  * not logged. Spark's listener bus delivers
  * events asynchronously; `of` drains it before it returns, so the log holds
  * every event of the block unless the drain timed out ([[complete]]).
  */
final class TaskLog private (private val group: String) extends SparkListener {
  private val stageIds = mutable.Set[Int]()
  private val jobStarts = mutable.Map[Int, Long]()
  private val taskEnds = mutable.ArrayBuffer[SparkListenerTaskEnd]()
  private val stageInfos = mutable.ArrayBuffer[StageInfo]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  @volatile private var drained = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(p => group == p.getProperty("spark.jobGroup.id"))) {
      jobStarts(e.jobId) = e.time
      stageIds ++= e.stageIds
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.get(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageIds.contains(e.stageId)) taskEnds += e
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageIds.contains(e.stageInfo.stageId)) stageInfos += e.stageInfo
  }

  /** Every task end of the block's jobs, failed attempts included. */
  def tasks: Seq[SparkListenerTaskEnd] = synchronized(taskEnds.toSeq)

  /** The block's completed stages (a skipped stage never completes). */
  def stages: Seq[StageInfo] = synchronized(stageInfos.toSeq)

  /** `(start, end)` in driver epoch milliseconds of each job that ended,
    * AQE's map-stage jobs included (Spark logs no "Job N finished" line
    * for those).
    */
  def jobs: Seq[(Long, Long)] = synchronized(jobSpans.toSeq)

  /** Seconds of wall time covered by at least one of the block's jobs. */
  def jobSeconds: Double = {
    var covered = 0L
    var reach = Long.MinValue
    jobs.sortBy(_._1).foreach { case (start, end) =>
      covered += math.max(0L, end - math.max(start, reach))
      reach = math.max(reach, end)
    }
    covered / 1e3
  }

  /** False when the listener bus was still busy after the drain timed out:
    * events of the block may then be missing.
    */
  def complete: Boolean = drained
}

object TaskLog {
  private val DrainMs = 30000L

  /** Runs `body` under a fresh job group with a [[TaskLog]] registered;
    * returns the body's result and the log of that group's events.
    */
  def of[A](sc: SparkContext)(body: => A): (A, TaskLog) = {
    val log = new TaskLog(s"graft-tasklog-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(log)
    try {
      sc.setJobGroup(log.group, "graft.TaskLog")
      val result = try body finally sc.clearJobGroup()
      log.drained =
        try { GraftSparkShim.waitListenerBusEmpty(sc, DrainMs); true }
        catch { case _: TimeoutException => false }
      (result, log)
    } finally sc.removeSparkListener(log)
  }
}
