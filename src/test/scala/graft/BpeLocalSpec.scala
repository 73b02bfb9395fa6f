package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The BPE driver rounds (every test SF's vocabulary fits
  * `TextOps.BpeLocalVocabMax`) against the on-cluster rounds that run
  * past the bound: BOTH must emit the identical merge table and the
  * identical per-doc symbol counts — the bound changes where the rounds
  * run, never what they learn. `TextOps.clusterRoundsScope` builds the
  * same queries through the on-cluster loop, so this differential keeps
  * that loop covered at test scale. PlanShapeSpec sweeps only the
  * driver-round plans for all-pairs products, so the on-cluster plans
  * are checked here.
  */
class BpeLocalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  private def query(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  private def onCluster(name: String): Seq[Seq[Any]] = {
    val df = TextOps.clusterRoundsScope(query(name))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"$name on-cluster rounds grew an all-pairs product:\n$p")
    rows(df)
  }

  test("pipeline_bpe_fit: local rounds == distributed rounds") {
    val local = rows(query("pipeline_bpe_fit"))
    assert(local.nonEmpty && local == onCluster("pipeline_bpe_fit"))
  }

  test("pipeline_bpe_apply: local rounds == distributed rounds") {
    val local = rows(query("pipeline_bpe_apply"))
    assert(local.nonEmpty && local == onCluster("pipeline_bpe_apply"))
  }
}
