package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Closed-form properties of dedup_url_canonical: every canonical URL is
  * fully normalized (no noise artifact survives), the census is complete
  * (docs partition exactly into the canon groups), and each noise variant
  * individually canonicalizes to the clean form.
  */
class UrlCanonSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("canonical forms are fully normalized and the census is complete") {
    val nDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    val rows = Dedup.urlCanonical.run(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val cleanForm = "^https://host\\d+\\.example\\.com/articles/\\d+$".r
    rows.foreach { case (canon, n, nRaw, keep) =>
      assert(cleanForm.matches(canon), s"unnormalized canon: $canon")
      assert(n >= 1 && nRaw >= 1 && nRaw <= n)
      assert(keep >= 0)
    }
    // Complete partition: every doc lands in exactly one group.
    assert(rows.map(_._2).sum == nDocs)
    // Grouping is by page id (doc_id % 100): group count == distinct pids.
    assert(rows.length ==
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id % 100 AS pid").distinct().count().toInt)
  }

  test("each noise variant canonicalizes to the clean page URL") {
    // Drive the DECLARED query over a six-doc corpus that hits every
    // variant arm (doc_id % 6 = 0..5); all six share page id via %100.
    val dir = graft.TestDirs.create("urlcanon").toString
    spark.range(6).selectExpr("id AS doc_id", "'x' AS text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.urlCanonical.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // Six docs, six distinct pids (0..5) -> six singleton groups, each
    // with a different noise variant, each canonicalized clean.
    assert(got.length == 6)
    got.zipWithIndex.foreach { case ((canon, n, nRaw, keep), i) =>
      assert(canon == s"https://host$i.example.com/articles/$i", canon)
      assert(n == 1 && nRaw == 1 && keep == i.toLong)
    }
  }
}
