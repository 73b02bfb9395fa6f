package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.{KV, MRApp, MapReduce}

/** The reference's crash-recovery methodology (src/main/test-mr.sh:284-330 /
  * src/mrapps/crash.go): inject task failures mid-job and require the output
  * to still match the no-crash golden run. Here the failure is a
  * deterministic first-attempt exception inside a map or reduce UDF; Spark's
  * task re-execution (the E11 analog of the coordinator's 10 s requeue; the
  * test master `local[4,2]` allows one retry) must retry and converge to
  * the identical result. Each run's [[TaskLog]] shows the crash: exactly
  * one failed attempt 0, then a successful attempt 1 of the same partition.
  */
class CrashRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  // The corpus guarantees a crash target: MrCorpus.CrashBook's path holds
  // "sherlock" and its text holds the word "Sherlock".
  private def glob = MrCorpus.glob

  test("map-side task crash on first attempt still matches the golden run") {
    val inner = AppRegistry("wc")
    val crashing = new MRApp {
      val name = "crashing-wc"
      def map(file: String, contents: String): Seq[KV] = {
        if (TaskContext.get() != null && TaskContext.get.attemptNumber() == 0
            && CrashRecoverySpec.shouldCrash(file)) {
          throw new RuntimeException(s"injected crash for $file (attempt 0)")
        }
        inner.map(file, contents)
      }
      def reduce(key: String, values: Seq[String]): String =
        inner.reduce(key, values)
    }
    assertRecovered(crashing, inner)
  }

  test("reduce-side task crash on first attempt still matches the golden run") {
    // The reference's crash suite kills reducers too
    // (src/main/test-mr.sh:284-330): a reduce attempt dies AFTER the map
    // phase committed, and the rerun must re-fetch the same shuffle
    // output and converge. Injected here as a first-attempt exception
    // inside the reduce UDF — the E5 re-read + E11 re-execution path.
    val inner = AppRegistry("wc")
    val crashing = new MRApp {
      val name = "crashing-reduce-wc"
      def map(file: String, contents: String): Seq[KV] =
        inner.map(file, contents)
      def reduce(key: String, values: Seq[String]): String = {
        if (TaskContext.get() != null && TaskContext.get.attemptNumber() == 0
            && CrashRecoverySpec.shouldCrashReduce(key)) {
          throw new RuntimeException(s"injected reduce crash for $key (attempt 0)")
        }
        inner.reduce(key, values)
      }
    }
    assertRecovered(crashing, inner)
  }

  /** Runs `crashing` and checks its output against `inner`'s sequential
    * run, and its task log for one crash and its retry.
    */
  private def assertRecovered(crashing: MRApp, inner: MRApp): Unit = {
    val (got, log) = TaskLog.of(spark.sparkContext) {
      MapReduce.run(spark, crashing, glob, 10)
        .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    }
    assert(log.complete)
    val failed = log.tasks.filterNot(_.taskInfo.successful)
    assert(failed.size == 1, "failed task attempts")
    val crash = failed.head
    assert(crash.taskInfo.attemptNumber == 0)
    def slot(t: SparkListenerTaskEnd) = (t.stageId, t.taskInfo.index)
    val retries = log.tasks.filter(t => slot(t) == slot(crash) && t.taskInfo.successful)
    assert(retries.map(_.taskInfo.attemptNumber) == Seq(1),
      s"retries of stage ${crash.stageId} partition ${crash.taskInfo.index}")
    val want = MapReduce
      .runSequential(inner, MapReduce.globPaths(glob)).sorted
    assert(got == want)
  }
}

object CrashRecoverySpec {
  /** Crash exactly once per matching file across the job (executor-local
    * map is enough: local mode shares the JVM).
    */
  private val crashed = ConcurrentHashMap.newKeySet[String]()
  def shouldCrash(file: String): Boolean =
    file.contains("sherlock") && crashed.add(file)

  /** Same once-only marker for the reduce stage, keyed by reduce key. */
  private val reduceCrashed = ConcurrentHashMap.newKeySet[String]()
  def shouldCrashReduce(key: String): Boolean =
    key == "Sherlock" && reduceCrashed.add(key)
}
