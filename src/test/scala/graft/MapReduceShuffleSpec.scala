package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
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
    val (groups, log) = TaskLog.of(spark.sparkContext) {
      MapReduce.run(spark, AppRegistry("wc"), MrCorpus.glob).count()
    }
    assert(groups == MrCorpus.wcLines.size)
    assert(log.complete)
    val perFile = MrCorpus.books.map(_.words.distinct.size.toLong).sum
    assert(perFile < MrCorpus.totalWords)
    assert(log.stages.size == 2)
    assert(log.stages.map(_.taskMetrics.shuffleWriteMetrics.recordsWritten).sum == perFile)
  }
}
