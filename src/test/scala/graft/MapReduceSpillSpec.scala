package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.util.CollectionAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.{AppRegistry, WordCount}
import graft.engine.{KV, MRApp, MapReduce}

/** `MapReduce.run`'s reduce-side grouping when it spills: Spark's
  * `spark.shuffle.spill.numElementsForceSpillThreshold` makes every
  * reduce task write a key-sorted run each time that many records have
  * arrived, so a key's lists sit in several runs and in memory, and the
  * output must still equal the sequential oracle with `reduce` called once
  * per key.
  */
class MapReduceSpillSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val ForceSpill = "spark.shuffle.spill.numElementsForceSpillThreshold"

  /** Runs `app` over `glob` with every reduce task spilling after each
    * `threshold` records; returns the sorted `"key value"` lines and the
    * reduce tasks' metrics. In local mode the executor reads the
    * SparkContext's conf, which is set for the run's extent.
    */
  private def spilled(app: MRApp, glob: String, threshold: Int): (Seq[String], Seq[TaskMetrics]) = {
    val conf = SparkEnv.get.conf
    val prior = conf.getOption(ForceSpill)
    conf.set(ForceSpill, threshold.toString)
    try {
      val (lines, log) = TaskLog.of(spark.sparkContext) {
        MapReduce.run(spark, app, glob)
          .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
      }
      assert(log.complete)
      (lines, log.tasks.map(_.taskMetrics).filter(_.shuffleReadMetrics.recordsRead > 0))
    } finally prior.fold(conf.remove(ForceSpill))(conf.set(ForceSpill, _))
  }

  private def records(m: TaskMetrics): Long = m.shuffleReadMetrics.recordsRead

  /** Spark spills once `threshold` is passed, so a task that read more
    * than twice `threshold + 1` records spilled at least twice.
    */
  private def assertSpilledTwice(tasks: Seq[TaskMetrics], threshold: Int): Unit = {
    assert(tasks.size == 10)
    assert(tasks.forall(records(_) > 2 * (threshold + 1)), tasks.map(records))
    assert(tasks.forall(t => t.diskBytesSpilled > 0 && t.memoryBytesSpilled > 0),
      tasks.map(t => (t.diskBytesSpilled, t.memoryBytesSpilled)))
  }

  test("wc under forced spill equals the sequential oracle, and the task " +
      "metrics count the spilled bytes") {
    val (got, tasks) = spilled(AppRegistry("wc"), MrCorpus.glob, 100)
    assert(got == MapReduce.runSequential(AppRegistry("wc"), MrCorpus.files).sorted)
    assert(got == MrCorpus.wcLines)
    assertSpilledTwice(tasks, 100)
  }

  test("indexer under forced spill equals the sequential oracle") {
    val (got, tasks) = spilled(AppRegistry("indexer"), MrCorpus.glob, 100)
    assert(got == MapReduce.runSequential(AppRegistry("indexer"), MrCorpus.files).sorted)
    assert(got == MrCorpus.indexerLines(_.toString))
    assertSpilledTwice(tasks, 100)
  }

  test("a hot key in every map call is reduced once, with all its values, " +
      "under forced spill") {
    val dir = TestDirs.create("graft-mr-hot-")
    // Each file: the hot key 4000 times, 40 words of its own and one
    // word shared by all. A word is letters only, so numbers are
    // spelled with the letters a-j.
    def spell(n: Int): String = n.toString.map(c => ('a' + (c - '0')).toChar)
    val files = 12
    val hotPerFile = 4000
    (0 until files).foreach { f =>
      val own = (0 until 40).map(j => s"w${spell(f)}x${spell(j)}")
      val text = (Seq.fill(hotPerFile)("hot") ++ own :+ "shared").mkString(" ")
      Files.write(dir.resolve(s"pg-$f.txt"), text.getBytes(UTF_8))
    }
    val calls = spark.sparkContext.collectionAccumulator[Int]("hot reduce calls")
    // 12 hot records cannot fit in one run of at most 5 records.
    val (got, tasks) = spilled(HotKeyCount(calls), s"$dir/pg-*.txt", 4)
    val paths = MapReduce.globPaths(s"$dir/pg-*.txt")
    assert(paths.size == files)
    assert(got == MapReduce.runSequential(WordCount, paths).sorted)
    assert(got.contains(s"hot ${files * hotPerFile}"))
    assert(calls.value.asScala.toSeq == Seq(files * hotPerFile))
    assert(tasks.exists(_.diskBytesSpilled > 0), tasks.map(_.diskBytesSpilled))
  }
}

/** wc, recording the value count of each reduce call of the key `hot`. */
final case class HotKeyCount(calls: CollectionAccumulator[Int]) extends MRApp {
  val name = "wc"
  def map(file: String, contents: String): Seq[KV] = WordCount.map(file, contents)
  def reduce(key: String, values: Seq[String]): String = {
    if (key == "hot") calls.add(values.size)
    WordCount.reduce(key, values)
  }
}
