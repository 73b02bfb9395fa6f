package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** sim_topk_ivfpq_residual — the two claims the residual formulation can
  * honestly make ON THIS PIPELINE, plus the planted-neighbor floor.
  *
  * Error: quantizing x − centroid(cell) must not lose to quantizing x
  * (res < raw, strict). The margin here is small BY CONSTRUCTION, not by
  * accident: the sub-codebooks are label-seeded, so raw PQ already owns
  * one cell per label and captures any per-label translation — exactly
  * what the coarse quantizer removes. The residual win grows at
  * production scale, where coarse cells far outnumber sub-codebook
  * cells; committing a big drop on THIS table would be a lie, so the
  * spec commits the strict inequality and documents why it is thin.
  *
  * Retrieval: the IvfPqRecallSpec planted-neighbor harness, run against
  * the residual composition — an ELIGIBLE plant (same rank-1 cell as its
  * query) has residual codes equal to its query's per-cell argmin codes,
  * hence minimal ADC; missing one is a plumbing bug, not a math choice.
  */
class IvfPqResidualSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val PlantBase = 10000L

  test("residual encoding does not lose to raw-vector encoding") {
    val dir = "/root/testdata/sf0.01"
    val raw = Similarity.pqQuantError(spark, dir, residual = false)
      .collect().head.getDouble(0)
    val res = Similarity.pqQuantError(spark, dir, residual = true)
      .collect().head.getDouble(0)
    info(f"total squared quantization error: residual $res%.2f vs raw $raw%.2f")
    assert(res < raw, f"residual error $res%.2f not below raw $raw%.2f")
  }

  private lazy val dir: String = {
    val out = graft.TestDirs.create("graft-ivfpqres").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(PlantBase)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"),
        col("label"))
    base.unionByName(planted)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  test("the residual composition finds eligible planted neighbors") {
    val ranks = Similarity.cellRanks(
      Similarity.vecs(spark, dir),
      Similarity.centroidsFrom(Similarity.vecs(spark, dir)), 2)
      .select("vec_id", "cell", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.get(1))).toMap
    val eligible = (0L until 20L).filter { q =>
      ranks(q).take(2).contains(ranks(PlantBase + q).head)
    }
    assert(eligible.size >= 15,
      s"only ${eligible.size}/20 plants eligible — planting off")
    val got = Similarity.ivfPqResidualTopk(spark, dir, nprobe = 2)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.map(_.getLong(1)).toSet
      }
    val planted = eligible.count(q =>
      got.getOrElse(q, Set()).contains(PlantBase + q))
    info(s"planted-hit: $planted/${eligible.size} eligible at nprobe=2")
    assert(planted >= eligible.size - 2,
      s"residual composition found only $planted/${eligible.size} eligible plants")
  }
}
