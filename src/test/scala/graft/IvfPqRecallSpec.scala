package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Recall floor for the COMPOSED IVF-PQ search (sim_topk_ivfpq) — the one
  * ANN query whose own retrieval quality wasn't pinned (IvfRecallSpec
  * covers cell probing with exact scoring, PqRecallSpec covers ADC over
  * all candidates; neither covers probing × ADC together).
  *
  * Method: plant, for each of the 20 query vectors, a near-identical
  * neighbor (the query's embedding with one component nudged, same label)
  * in a doctored copy of the embeddings table. Each planted neighbor is
  * (a) the query's cosine top-1 by construction, (b) USUALLY assigned to
  * the query's own rank-1 quantizer cell — the nudge (and the plants'
  * own pull on the trained centroids) can flip a Voronoi-boundary plant
  * into an adjacent cell, so cell eligibility is computed per plant with
  * the production builders rather than assumed — and (c) the
  * minimum-possible ADC distance among its cell's candidates, because
  * its PQ codes equal the query's own argmin codes (the LUT entries a
  * code-sum cannot beat). A composed search that misses an ELIGIBLE
  * planted neighbor is broken in the plumbing, not the math, so the
  * floor is analytic (all eligible, with a 2-query tie-flood allowance),
  * not a tuned constant. nprobe=2's planted hits cannot drop below
  * nprobe=1's (the probe set only grows and planted ADC is minimal);
  * full-truth recall@5 is asserted monotone in aggregate and reported.
  */
class IvfPqRecallSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val PlantBase = 10000L

  /** Doctored copy of sf0.001 embeddings: originals + one planted
    * near-copy (vec_id 10000+q) of each query vector q < 20.
    */
  private lazy val dir: String = {
    val out = graft.TestDirs.create("graft-ivfpq").toString
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

  private def load(): Map[Long, Array[Double]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) e")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** In-memory brute-force cosine top-5 with the queries' exact ranking
    * convention (rounded cosine desc, neighbor_id tie-break).
    */
  private def truth(vecs: Map[Long, Array[Double]]): Map[Long, Set[Long]] =
    vecs.keys.filter(_ < 20).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (-math.rint((cosine(vecs(q), vecs(n)) + 1e-9) * 1e6), n))
        .take(5).toSet
    }.toMap

  private def top5(nprobe: Int): Map[Long, Set[Long]] =
    Similarity.ivfPqTopk(spark, dir, nprobe)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.map(_.getLong(1)).toSet
      }

  test("composed IVF-PQ finds planted neighbors; nprobe=2 >= nprobe=1") {
    val vecs = load()
    val t = truth(vecs)
    // Sanity of the plant: every planted near-copy IS cosine top-1 truth.
    (0L until 20L).foreach { q =>
      assert(t(q).contains(PlantBase + q),
        s"planted neighbor of query $q missing from brute-force truth")
    }
    // Cell ELIGIBILITY, computed with the production quantizer builders
    // (same package): the +0.01 nudge AND the plants' own effect on the
    // trained centroids can flip a Voronoi-boundary plant into a cell
    // adjacent to its query's rank-1 cell — such a plant is legitimately
    // not a candidate at nprobe=1, so it is excluded from the floor
    // instead of silently consuming the tie allowance. The floor is then
    // truly analytic: an ELIGIBLE plant (same cell, minimal ADC) can only
    // be displaced by an exact-ADC tie flood (ties break by neighbor_id
    // and planted ids are the largest) — allowed for 2 queries.
    val ranks = Similarity.cellRanks(
      Similarity.vecs(spark, dir), Similarity.centroidsFrom(Similarity.vecs(spark, dir)), 2)
      .select("vec_id", "cell", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.get(1))).toMap
    def eligible(nprobe: Int): Seq[Long] = (0L until 20L).filter { q =>
      ranks(q).take(nprobe).contains(ranks(PlantBase + q).head)
    }
    val e1 = eligible(1)
    val e2 = eligible(2)
    assert(e1.size >= 15,
      s"only ${e1.size}/20 plants landed in their query's rank-1 cell — the planting itself is off")
    val p1 = top5(1)
    val p2 = top5(2)
    val planted1 = e1.count(q => p1.getOrElse(q, Set()).contains(PlantBase + q))
    val planted2 = e2.count(q => p2.getOrElse(q, Set()).contains(PlantBase + q))
    val rec1 = t.map { case (q, s) => (s & p1.getOrElse(q, Set())).size }.sum
    val rec2 = t.map { case (q, s) => (s & p2.getOrElse(q, Set())).size }.sum
    info(f"planted-hit: nprobe=1 $planted1/${e1.size} eligible, " +
      f"nprobe=2 $planted2/${e2.size} eligible; " +
      f"recall@5 vs truth: nprobe=1 ${rec1 / 100.0}%.2f, nprobe=2 ${rec2 / 100.0}%.2f")
    assert(planted1 >= e1.size - 2,
      s"nprobe=1 found only $planted1/${e1.size} eligible planted neighbors")
    assert(planted2 >= e2.size - 2,
      s"nprobe=2 found only $planted2/${e2.size} eligible planted neighbors")
    assert(planted2 >= planted1,
      s"nprobe=2 planted hits $planted2 < nprobe=1 $planted1 — probing lost a same-cell hit")
    assert(rec2 >= rec1,
      s"nprobe=2 aggregate recall $rec2 < nprobe=1 $rec1 — second probe bought negative recall")
  }
}
