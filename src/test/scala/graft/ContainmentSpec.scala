package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** dedup_containment checks: planted subset documents (B = A minus its
  * last word, so S(B) ⊂ S(A)) must surface at containment exactly 1.0,
  * and every emitted row must equal an in-memory shingle-set
  * recomputation — none of the distributed plan's machinery.
  */
class ContainmentSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def shingleSet(text: String): Set[String] =
    text.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  test("planted subset docs surface with containment exactly 1.0") {
    import spark.implicits._
    val dir = graft.TestDirs.create("containment").toString
    val rows = (0 until 20).flatMap { i =>
      val words = (0 until 80).map(k => s"w${(i * 997 + k * 131) % 4096}")
      Seq((i.toLong, "base", words.mkString(" ")),
        (1000L + i, "sub", words.dropRight(1).mkString(" ")))
    }
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = Dedup.containment.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    (0 until 20).foreach { i =>
      val key = (i.toLong, 1000L + i)
      assert(got.contains(key), s"planted pair $key missing")
      val (nCommon, _, containB, containment) = got(key)
      // B ⊂ A: every one of B's shingles is in A.
      assert(containB == 1.0, s"pair $key contain_b $containB")
      assert(containment == 1.0)
      assert(nCommon ==
        shingleSet(rows.find(_._1 == 1000L + i).get._3).size.toLong)
    }
  }

  test("emitted rows equal in-memory shingle-set recomputation at sf0.001") {
    val texts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
    val got = Dedup.containment.run(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.nonEmpty, "no containment pairs at sf0.001 — planted dups " +
      "should produce some")
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (texts(a), texts(b))
      val common = (sa intersect sb).size.toLong
      assert(r.getLong(2) == common, s"($a,$b) n_common")
      assert(r.getDouble(3) == common.toDouble / sa.size, s"($a,$b) contain_a")
      assert(r.getDouble(4) == common.toDouble / sb.size, s"($a,$b) contain_b")
      assert(r.getDouble(5) >= 0.5)
    }
  }
}
