package graft

import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.MapReduce

/** Listener-based analogs of the reference's scheduler-introspection apps
  * A6–A8 (src/mrapps/jobcount.go, mtiming.go, rtiming.go;
  * src/main/test-mr.sh:157-196, 213-221), which the reference implements by
  * having map tasks write marker files and count/time each other. On Spark
  * the scheduler is observable directly, so the same three contracts are
  * asserted from a SparkListener's task log:
  *
  *   - mtiming: at least 2 map tasks run CONCURRENTLY (wall-clock interval
  *     overlap), i.e. the map phase is actually parallel;
  *   - rtiming: same for reduce tasks;
  *   - jobcount: in a crash-free run every partition executes EXACTLY once
  *     (one successful attempt, attempt number 0 — no re-execution, no
  *     double-counting), and with the split cap below the smallest file the
  *     map stage has exactly one task per input file (the reference's
  *     8-map-executions check over its pg corpus; here over [[MrCorpus]]).
  */
class SchedulerIntrospectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def glob = MrCorpus.glob

  private case class TaskRec(stageId: Int, partition: Int, attempt: Int,
      launch: Long, finish: Long, ok: Boolean)

  /** Records task ends + per-stage task counts for one job group only. */
  private final class TaskLog(group: String) extends SparkListener {
    val tasks = scala.collection.mutable.ArrayBuffer[TaskRec]()
    val myStages = scala.collection.mutable.Set[Int]()
    val stageTaskCounts = scala.collection.mutable.Map[Int, Int]()
    @volatile var stagesDone = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties)
          .exists(p => group == p.getProperty("spark.jobGroup.id")))
        myStages ++= e.stageIds
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (myStages.contains(e.stageId))
        tasks += TaskRec(e.stageId, e.taskInfo.index, e.taskInfo.attemptNumber,
          e.taskInfo.launchTime, e.taskInfo.finishTime, e.taskInfo.successful)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        if (myStages.contains(e.stageInfo.stageId)) {
          stageTaskCounts(e.stageInfo.stageId) = e.stageInfo.numTasks
          stagesDone += 1
        }
      }
  }

  /** Max number of wall-clock-overlapping task intervals. Ties are resolved
    * finish-before-launch, so back-to-back tasks never count as overlap —
    * the assertion only passes on genuine concurrency.
    */
  private def maxConcurrency(ts: Seq[TaskRec]): Int = {
    val events = ts.flatMap(t => Seq((t.launch, 1), (t.finish, -1)))
      .sortBy { case (time, delta) => (time, delta) }
    var cur = 0
    var best = 0
    events.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best
  }

  test("mtiming/rtiming/jobcount: parallel phases, exactly-once tasks, one map per file") {
    val sc = spark.sparkContext
    val group = s"introspection-${System.nanoTime()}"
    val listener = new TaskLog(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "scheduler introspection golden run")
      // minMapTasks=24 puts the combine-split cap (790,611 B/24 ≈ 33KB)
      // below the smallest non-empty corpus file (pg-being_ernest.txt,
      // 55KB; MrCorpus checks every file stays above it): one map task per
      // file. The zero-byte pg-empty.txt is a map task of its own too:
      // Hadoop gives a zero-length file a block with no host, so Spark
      // 4.1's wholeTextFiles packing never joins it to the node-local
      // files — 9 tasks for the 9 files.
      val out = MapReduce
        .run(spark, AppRegistry("wc"), glob, nReduce = 10, minMapTasks = 24)
        .collect()
      assert(out.nonEmpty)
      sc.clearJobGroup()

      // Listener events are async: wait until both stages reported complete
      // and every task of both stages has been logged.
      val deadline = System.currentTimeMillis() + 30000
      def logged = listener.synchronized {
        listener.stagesDone >= 2 &&
          listener.tasks.size >= listener.stageTaskCounts.values.sum
      }
      while (!logged && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(logged, s"listener drain timed out: ${listener.stageTaskCounts}")

      val (tasks, counts) = listener.synchronized {
        (listener.tasks.toVector, listener.stageTaskCounts.toMap)
      }
      val mapStage = counts.keys.min
      val reduceStage = counts.keys.max
      assert(mapStage != reduceStage, s"expected 2 stages, got $counts")
      val mapTasks = tasks.filter(_.stageId == mapStage)
      val reduceTasks = tasks.filter(_.stageId == reduceStage)

      // jobcount: one map task per input file, every partition exactly once.
      val nFiles = MapReduce.globPaths(glob).size
      assert(nFiles == MrCorpus.files.size, s"corpus moved? $nFiles files")
      if (MrCorpus.gutenbergPresent) {
        val pgFiles = MapReduce.globPaths(MrCorpus.gutenbergGlob).size
        assert(pgFiles == 8, s"corpus moved? $pgFiles files")
      }
      assert(counts(mapStage) == nFiles,
        s"expected $nFiles map tasks (one per file), got ${counts(mapStage)}")
      assert(counts(reduceStage) == 10)
      for (ts <- Seq(mapTasks, reduceTasks)) {
        assert(ts.forall(_.ok), s"failed tasks in crash-free run: $ts")
        assert(ts.forall(_.attempt == 0),
          s"re-executed tasks in crash-free run: ${ts.filter(_.attempt != 0)}")
        val perPartition = ts.groupBy(_.partition).view.mapValues(_.size)
        assert(perPartition.values.forall(_ == 1),
          s"double-executed partitions: ${perPartition.filter(_._2 != 1)}")
      }

      // mtiming / rtiming: the phases actually run in parallel (local[4]).
      val mapPar = maxConcurrency(mapTasks)
      val reducePar = maxConcurrency(reduceTasks)
      info(s"map tasks=${mapTasks.size} concurrency=$mapPar; " +
        s"reduce tasks=${reduceTasks.size} concurrency=$reducePar")
      assert(mapPar >= 2, s"map phase not parallel (max overlap $mapPar)")
      assert(reducePar >= 2, s"reduce phase not parallel (max overlap $reducePar)")
    } finally {
      sc.removeSparkListener(listener)
    }
  }
}
