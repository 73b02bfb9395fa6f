package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** dedup_prefix_join: the prefix-filtering theorem says NO false
  * negatives — so the join must equal the brute-force all-pairs scan
  * EXACTLY (not just recall on planted pairs, as the LSH spec checks),
  * and must dominate the probabilistic LSH pipeline's answer.
  */
class PrefixJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def shingleSets(): Map[Long, Set[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map { r =>
        val toks = r.getString(1).split(" ", -1).filter(_.nonEmpty)
        val sh = if (toks.length < 3) Set.empty[String]
          else (0 to toks.length - 3).map(i => toks.slice(i, i + 3)
            .mkString(" ")).toSet
        r.getLong(0) -> sh
      }.toMap

  test("prefix join equals the brute-force all-pairs Jaccard scan") {
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      if sets(a).nonEmpty && sets(b).nonEmpty
      inter = (sets(a) intersect sets(b)).size
      if inter > 0
      jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if jac >= 0.5
    } yield (a, b) -> ((inter.toLong, jac))).toMap
    val got = SparkEntry.queries("dedup_prefix_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet,
      s"missed: ${(want.keySet diff got.keySet).take(3)} " +
        s"extra: ${(got.keySet diff want.keySet).take(3)}")
    val bad = got.collect { case (k, v) if want(k) != v => (k, v, want(k)) }
    assert(bad.isEmpty, s"value mismatches: ${bad.take(3)}")
    assert(got.nonEmpty, "no qualifying pairs — corpus lost its near-dups?")
  }

  test("the saturation guard trips on a vocabulary-saturated corpus " +
      "and stays silent at healthy density") {
    // PLANTED SATURATION: 600 docs drawn from a THREE-word vocabulary —
    // the 3-shingle space caps at 27, so every prefix token's df scales
    // with N and Σ C(df,2) explodes (the g1 probe's failure mode in
    // miniature). ~40 words/doc → ~23k prefix rows over ≤27 distinct
    // shingles → ~10M predicted candidate pairs.
    val sat = TestDirs.create("graft_satdocs")
    val words = Array("a", "b", "c")
    val rows = (0L until 600L).map { id =>
      val r = new scala.util.Random(id)
      val text = Array.fill(40)(words(r.nextInt(3))).mkString(" ")
      (id, text, "en", "src0", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$sat/documents.parquet")

    val boundKey = "spark.graft.prefixJoin.maxCandidates"
    try {
      spark.conf.set(boundKey, "1000000")
      // LOUD failure naming the bound and the LSH query — never a quiet
      // quadratic join, never another query's answer.
      val e = intercept[IllegalStateException] {
        SparkEntry.queries("dedup_prefix_join")(spark, sat.toString).count()
      }
      assert(e.getMessage.contains("saturated")
        && e.getMessage.contains(boundKey)
        && e.getMessage.contains("dedup_lsh_verified"))

      // And at the DRIVER corpus's healthy shingle density the guard is
      // silent under the DEFAULT bound — oracle parity is untouched.
      spark.conf.unset(boundKey)
      assert(SparkEntry.queries("dedup_prefix_join")(spark, dir)
        .count() >= 1)
    } finally spark.conf.unset(boundKey)
  }

  test("the exact join dominates the LSH pipeline's answer") {
    // LSH is probabilistic (banding can miss); prefix filtering cannot.
    // Every pair the LSH pipeline verified must appear here too — the
    // exact answer is a superset (equal on this corpus, measured).
    val exact = SparkEntry.queries("dedup_prefix_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_lsh_verified")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH found pairs the exact join missed: ${(lsh diff exact).take(3)}")
  }
}
