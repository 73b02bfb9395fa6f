package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** sim_knn_graph — honest retrieval quality for the all-vectors kNN join
  * on an ANN-hostile corpus (isotropic vectors spread true neighbors
  * across cells):
  *  - recall@3 vs exhaustive L2 truth at nprobe=2, committed floor from
  *    the measured 0.42;
  *  - recall monotone in nprobe (the probe set only grows);
  *  - planted ε-neighbors (the IvfPqRecallSpec harness): a plant landing
  *    in a cell its query probes MUST appear in the query's top-3 —
  *    missing an eligible plant is broken plumbing, not hard data.
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val PlantBase = 10000L

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  test("recall@3 floor and nprobe monotonicity on the real table") {
    val dir = "/root/testdata/sf0.01"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val truth: Map[Long, Set[Long]] = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(3).toSet
    }.toMap
    def recall(nprobe: Int): Double = {
      val byQ = Similarity.knnGraphTopk(spark, dir, nprobe)
        .select("qid", "nid").collect().groupBy(_.getLong(0))
      truth.map { case (q, t) =>
        byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
          .intersect(t).size
      }.sum.toDouble / (3 * truth.size)
    }
    val r1 = recall(1)
    val r2 = recall(2)
    info(f"kNN-graph recall@3: nprobe=1 $r1%.3f, nprobe=2 $r2%.3f")
    assert(r2 >= 0.35, f"nprobe=2 recall $r2%.3f below the committed floor")
    assert(r2 >= r1 - 1e-9, f"recall fell with more probes: $r1%.3f -> $r2%.3f")
  }

  test("multi-probe LSH variant: recall floor on the real table, planted " +
      "near-identical neighbors found") {
    val dir = "/root/testdata/sf0.01"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val truth: Map[Long, Set[Long]] = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(3).toSet
    }.toMap
    val byQ = Similarity.knnGraphMplshTopk(spark, dir)
      .select("qid", "nid").collect().groupBy(_.getLong(0))
    val recall = truth.map { case (q, t) =>
      byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
        .intersect(t).size
    }.sum.toDouble / (3 * truth.size)
    info(f"mplsh kNN-graph recall@3: $recall%.3f")
    // Committed floor on the ANN-hostile isotropic corpus (sign-bit LSH
    // with Hamming-1 probing; clustered production data sits far higher).
    assert(recall >= 0.5, f"mplsh recall $recall%.3f below the floor")

    // A planted near-identical neighbor shares every sign bit (the 0.01
    // nudge on dim 0 cannot flip a sign at these magnitudes unless the
    // coordinate sits within 0.01 of zero — those plants are excluded),
    // so it is ALWAYS a candidate: same cell, exact rescore, distance ~0
    // wins rank 1.
    val out = graft.TestDirs.create("graft_knn_mp").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(PlantBase)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"),
        col("label"))
    base.unionByName(planted)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val eligible = base.filter(col("vec_id") < 20)
      .selectExpr("vec_id", "cast(element_at(embedding, 1) as double) x0")
      .collect().filter(r => math.abs(r.getDouble(1)) > 0.011)
      .map(_.getLong(0)).toSeq
    assert(eligible.size >= 15, s"only ${eligible.size}/20 plants eligible")
    val byQ2 = Similarity.knnGraphMplshTopk(spark, out)
      .select("qid", "nid").collect().groupBy(_.getLong(0))
    val found = eligible.count(q =>
      byQ2.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
        .contains(PlantBase + q))
    info(s"mplsh planted-hit: $found/${eligible.size} eligible")
    assert(found == eligible.size,
      s"mplsh missed ${eligible.size - found} same-cell planted neighbors")
  }

  test("eligible planted neighbors appear in the graph") {
    val out = graft.TestDirs.create("graft_knn").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(PlantBase)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"),
        col("label"))
    base.unionByName(planted)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ranks = Similarity.cellRanks(
      Similarity.vecs(spark, out),
      Similarity.centroidsFrom(Similarity.vecs(spark, out)), 2)
      .select("vec_id", "cell", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.get(1))).toMap
    val eligible = (0L until 20L).filter { q =>
      ranks(q).take(2).contains(ranks(PlantBase + q).head)
    }
    assert(eligible.size >= 15, s"only ${eligible.size}/20 plants eligible")
    val byQ = Similarity.knnGraphTopk(spark, out, nprobe = 2)
      .select("qid", "nid").collect().groupBy(_.getLong(0))
    val found = eligible.count(q =>
      byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
        .contains(PlantBase + q))
    info(s"planted-hit: $found/${eligible.size} eligible")
    assert(found >= eligible.size - 1,
      s"graph missed ${eligible.size - found} eligible planted neighbors")
  }

  test("above KnnSubCellThreshold the sign-bit split engages; planted " +
      "neighbors still appear; below it the cells equal the label centroids") {
    // BELOW the threshold the scale-adaptive centroid table must be
    // EXACTLY the label-seeded one (bit-identical results at every
    // correctness SF is the cap contract).
    val small = Similarity.vecs(spark, "/root/testdata/sf0.01")
    val a = Similarity.knnCentroids(small, small.count())
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Similarity.centroidsFrom(small)
      .collect().map(r => r.get(0).toString.toLong -> r.getSeq[Double](1))
      .toMap
    assert(a == b, "below-threshold centroids differ from label centroids")

    // ABOVE it (3 jittered tilings of the 500-vector table + plants =
    // 1520 > 1280 -> m = 1, 20 cells): the split must actually engage,
    // and the planted-neighbor plumbing law must hold unchanged.
    val out = graft.TestDirs.create("graft_knn_big").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tiled = (0 until 3).map { k =>
      base.select((col("vec_id") + lit(k * 1000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.001f * k)).otherwise(x))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    val planted = tiled.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(PlantBase)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"),
        col("label"))
    tiled.unionByName(planted)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val v = Similarity.vecs(spark, out)
    val cent = Similarity.knnCentroids(v, v.count())
    assert(cent.count() > 10,
      "sub-cell split did not engage above the threshold")
    val ranks = Similarity.cellRanks(v, cent, 2)
      .select("vec_id", "cell", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.get(1))).toMap
    val eligible = (0L until 20L).filter { q =>
      ranks(q).take(2).contains(ranks(PlantBase + q).head)
    }
    assert(eligible.size >= 10, s"only ${eligible.size}/20 plants eligible")
    val byQ = Similarity.knnGraphTopk(spark, out, nprobe = 2)
      .select("qid", "nid").collect().groupBy(_.getLong(0))
    val found = eligible.count(q =>
      byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
        .contains(PlantBase + q))
    info(s"sub-cell planted-hit: $found/${eligible.size} eligible")
    assert(found >= eligible.size - 1,
      s"split graph missed ${eligible.size - found} eligible plants")
  }
}
