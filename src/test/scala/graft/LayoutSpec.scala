package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Compaction

/** The compaction/layout contract (sources/Compaction): n output files,
  * DISJOINT key ranges across files (what makes parquet min/max footer
  * stats selective for readers), and monotone key order within each file
  * (what makes row-group stats selective and the key column compress).
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("compaction yields n files with disjoint, internally-sorted ranges") {
    val out = TestDirs.create("graft_layout").toString + "/docs"
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      // Scatter the input so the test starts from the worst layout.
      .repartition(16)
    Compaction.write(docs, out, 4, col("doc_id"))

    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4, s"expected 4 data files, got ${files.length}")

    // Per-file ranges from the data itself (what the parquet footers
    // carry as min/max): they must not overlap across files.
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")), max(col("doc_id"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    ranges.sorted.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: $aMax >= $bMin")
      case _ =>
    }

    // Within-file order is monotone (single-file, single-partition read
    // preserves row order).
    files.foreach { f =>
      val ids = spark.read.parquet(f).select(col("doc_id"))
        .collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"$f not internally sorted")
    }

    // Nothing lost or duplicated by the rewrite.
    val n = spark.read.parquet(out).count()
    assert(n == docs.count())
  }
}
