package graft

import org.apache.spark.{GraftSparkShim, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.{FnvPartitioner, KeyValuesSerializer, MapReduce}

/** The shape of `MapReduce.run`'s shuffle over [[MrCorpus]]: one FNV
  * shuffle written by the engine's own serializer, with no Spark
  * aggregator, carrying one record per distinct key of each map call.
  */
class MapReduceShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def shuffleDeps(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: shuffleDeps(s.rdd)
      case d => shuffleDeps(d.rdd)
    }

  /** Sums the shuffle records written by the stages of one job group. */
  private final class ShuffleWrites(group: String) extends SparkListener {
    private val stages = scala.collection.mutable.Set[Int]()
    var records = 0L
    var stagesDone = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
        stages ++= e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stages.contains(e.stageInfo.stageId)) {
        records += e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        stagesDone += 1
      }
    }
  }

  test("the shuffle under MapReduce.run uses the engine serializer, not Kryo") {
    val deps = shuffleDeps(MapReduce.run(spark, AppRegistry("wc"), MrCorpus.glob))
    assert(deps.size == 1)
    val dep = deps.head
    assert(dep.serializer eq KeyValuesSerializer)
    assert(!dep.mapSideCombine)
    assert(dep.aggregator.isEmpty)
    assert(dep.partitioner == new FnvPartitioner(10))
  }

  test("wc shuffles one record per distinct word of each file") {
    val sc = spark.sparkContext
    val group = s"shuffle-shape-${System.nanoTime()}"
    val listener = new ShuffleWrites(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "wc shuffle records")
      val groups = MapReduce.run(spark, AppRegistry("wc"), MrCorpus.glob).count()
      sc.clearJobGroup()
      assert(groups == MrCorpus.wcLines.size)

      // Listener events are async: drain the bus before reading them.
      GraftSparkShim.waitListenerBusEmpty(sc, 30000)
      val perFile = MrCorpus.books.map(_.words.distinct.size.toLong).sum
      assert(perFile < MrCorpus.totalWords)
      listener.synchronized {
        assert(listener.stagesDone == 2)
        assert(listener.records == perFile)
      }
    } finally sc.removeSparkListener(listener)
  }
}
