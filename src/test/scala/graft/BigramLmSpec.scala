package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Differential check of ta_bigram_logprob against a from-scratch in-memory
  * bigram language model (mutable-map counts, per-doc fold — none of the
  * distributed plan's machinery), plus the property the operator exists
  * for: destroying WORD ORDER (reversing every document's token sequence)
  * leaves unigram cross-entropy untouched but moves the bigram score.
  */
class BigramLmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def r(x: Double, shift: Double, scale: Int): Double =
    BigDecimal.valueOf(x + shift)
      .setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  test("per-doc bigram xent/ppl equal an in-memory MLE bigram LM at sf0.001") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "filter(split(text, ' '), x -> x != '') AS tk")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).toVector)
      .filter(_._2.length >= 2)
    val c12 = scala.collection.mutable.Map[(String, String), Long]()
    val c1 = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (_, tk) =>
      tk.sliding(2).foreach {
        case Vector(a, b) =>
          c12((a, b)) = c12.getOrElse((a, b), 0L) + 1
          c1(a) = c1.getOrElse(a, 0L) + 1
        case _ =>
      }
    }
    val want = docs.map { case (id, tk) =>
      val pairs = tk.sliding(2).collect { case Vector(a, b) => (a, b) }.toVector
      val nll = -pairs.map { case (a, b) =>
        math.log(c12((a, b)).toDouble) - math.log(c1(a).toDouble)
      }.sum
      id -> ((pairs.length.toLong,
        r(nll / pairs.length, 1e-8, 4),
        r(math.exp(nll / pairs.length), 1e-6, 2)))
    }.toMap

    val got = TextOps.bigramLogprob.run(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (n, xent, ppl)) =>
      val (wn, wx, wp) = want(id)
      assert(n == wn, s"doc $id n_bigrams")
      assert(math.abs(xent - wx) < 5e-4, s"doc $id xent $xent != $wx")
      assert(math.abs(ppl - wp) < 5e-2, s"doc $id ppl $ppl != $wp")
    }
  }

  test("word-order destruction moves bigram xent but not unigram xent") {
    import spark.implicits._
    val dir = graft.TestDirs.create("bigram-order").toString
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text")
    base.write.mode("overwrite").parquet(s"$dir/fwd/documents.parquet")
    base.selectExpr("doc_id",
      "array_join(reverse(filter(split(text, ' '), x -> x != '')), ' ') AS text")
      .write.mode("overwrite").parquet(s"$dir/rev/documents.parquet")

    def score(q: Q, d: String): Map[Long, Double] =
      q.run(spark, d).select("doc_id", "xent").as[(Long, Double)]
        .collect().toMap

    // Unigram model is order-blind: reversing tokens changes nothing.
    val uniFwd = score(TextOps.unigramLogprob, s"$dir/fwd")
    val uniRev = score(TextOps.unigramLogprob, s"$dir/rev")
    assert(uniFwd == uniRev)

    // Bigram model sees order: across the corpus the per-doc scores shift
    // (reversal rewires which pairs are shared between docs).
    val biFwd = score(TextOps.bigramLogprob, s"$dir/fwd")
    val biRev = score(TextOps.bigramLogprob, s"$dir/rev")
    assert(biFwd.keySet == biRev.keySet)
    val moved = biFwd.count { case (id, x) => math.abs(x - biRev(id)) > 1e-3 }
    assert(moved > biFwd.size / 10,
      s"only $moved/${biFwd.size} docs moved — bigram score looks order-blind")
  }
}
