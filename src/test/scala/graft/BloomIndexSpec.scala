package graft

import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** Bloom-filter point-read index on the snapshot table. Laws:
  *  - addBloomIndex is a metadata-only versioned property; files written
  *    AFTER it carry real parquet row-group bloom filters, files written
  *    before stay conservatively kept (no false skips, ever);
  *  - a rewrite commit (compact/optimize) MATERIALIZES filters for the
  *    files it rewrites — layout maintenance doubles as index build;
  *  - pruneFilesBloom keeps every file that holds the value (the bloom
  *    no-false-negative guarantee) and actually skips on a
  *    high-cardinality unclustered digest column — the case where
  *    min/max stats can prove nothing;
  *  - readPoint is row-identical to the full-scan equality filter, on
  *    string and long probes, with deletion vectors applied.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  // digest = md5(text): high-cardinality, UNCLUSTERED relative to the
  // doc_id range layout — every file spans the whole digest range, so
  // min/max stats keep everything and only a bloom can skip.
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"),
      md5(col("text").cast("binary")).as("digest"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("doc_id"), col("digest")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("pre-index files are conservatively kept; compact materializes " +
      "filters; the bloom then skips most files on a digest point read") {
    val table = TestDirs.create("graft_bloom1").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table) // v1
    val probe = docs.filter(col("doc_id") === 42L)
      .select(col("digest")).first().getString(0)

    // No index: nothing can be proven, everything kept.
    val (keep0, skip0) = Snapshots.pruneFilesBloom(table, "digest", probe)
    assert(skip0.isEmpty && keep0.size == 8,
      "files without filters must be conservatively kept")

    Snapshots.addBloomIndex(table, "digest")                            // v2
    // Metadata-only: same file list, still no filters to test.
    val (_, skip1) = Snapshots.pruneFilesBloom(table, "digest", probe)
    assert(skip1.isEmpty, "addBloomIndex must not skip pre-index files")

    Snapshots.compact(spark, table, 8, col("doc_id"))                   // v3
    val (keep2, skip2) = Snapshots.pruneFilesBloom(table, "digest", probe)
    assert(skip2.nonEmpty,
      "rewritten files carry filters; a digest probe must skip some")
    // The no-false-negative law, via row equality on the kept subset.
    val expect = rows(Snapshots.read(spark, table)
      .filter(col("digest") === probe))
    assert(expect.nonEmpty)
    assert(rows(Snapshots.readPoint(spark, table, "digest", probe)) == expect)
    assert(keep2.size + skip2.size == 8)

    // A value NOT in the table reads empty (whatever the skip count).
    assert(Snapshots.readPoint(spark, table, "digest",
      "00000000000000000000000000000000").mcount() == 0)
  }

  test("long-typed probe, DV interplay, and drop semantics") {
    val table = TestDirs.create("graft_bloom2").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table) // v1
    Snapshots.addBloomIndex(table, "doc_id")                            // v2
    Snapshots.optimize(spark, table, 8L * 1024 * 1024)                  // v3
    val expect = rows(Snapshots.read(spark, table)
      .filter(col("doc_id") === 123L))
    assert(rows(Snapshots.readPoint(spark, table, "doc_id", 123L)) == expect)

    // A DV delete masks the row; the bloom still keeps its file (filters
    // are immutable with the file) but the read applies the vectors.
    Snapshots.deleteWhereDV(spark, table, col("doc_id") === 123L)       // v4
    assert(Snapshots.readPoint(spark, table, "doc_id", 123L).mcount() == 0,
      "a DV-masked row must not resurface through the point read")

    // Drop is metadata-only and loud on unknown columns.
    Snapshots.dropBloomIndex(table, "doc_id")                           // v5
    intercept[IllegalArgumentException] {
      Snapshots.dropBloomIndex(table, "doc_id")
    }
    // Existing filters stay usable after the drop (they ride in files).
    assert(Snapshots.readPoint(spark, table, "doc_id", 124L).mcount() ==
      Snapshots.read(spark, table).filter(col("doc_id") === 124L).mcount())
  }

  test("merge on a bloom-indexed key narrows findTouchedFiles to filter " +
      "bytes and stays row-exact") {
    val table = TestDirs.create("graft_bloom4").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table) // v1
    Snapshots.addBloomIndex(table, "doc_id")                            // v2
    Snapshots.compact(spark, table, 8, col("doc_id"))                   // v3

    // The narrowing is observable directly: a 3-key delta's candidate
    // files come from pruneFilesBloomAny, which must skip most of the 8
    // range-clustered files (the keys live in at most 3).
    val deltaKeys = Seq[Any](5L, 6L, 300L)
    val (cand, skipped) =
      Snapshots.pruneFilesBloomAny(table, "doc_id", deltaKeys)
    assert(skipped.size >= 5,
      s"3 keys across 8 clustered files must skip most: kept ${cand.size}")

    // And the merge itself stays exactly the upsert semantics: updates
    // replace, inserts land, everything else is untouched.
    val delta = docs.filter(col("doc_id").isin(5L, 6L))
      .select(col("doc_id"), col("lang"), (col("n_chars") + 7L).as("n_chars"),
        col("digest"))
      .unionByName(docs.filter(col("doc_id") === 1L)
        .select((col("doc_id") + 900000L).as("doc_id"), col("lang"),
          col("n_chars"), col("digest")))
    Snapshots.merge(spark, table, delta, "doc_id")                      // v4
    val got = Snapshots.read(spark, table)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = base ++ Map(5L -> (base(5L) + 7L), 6L -> (base(6L) + 7L),
      900001L -> base(1L))
    assert(got == want, "bloom-narrowed merge drifted from upsert semantics")
  }

  test("probe hashing follows the column's PHYSICAL type: Int probes on " +
      "INT32 and Float probes on FLOAT find their rows (no false negatives)") {
    val table = TestDirs.create("graft_bloom5").toString
    // id32 is IntegerType → parquet INT32: the written filter hashed
    // 4-byte values, so an Int probe must go through hash(int) —
    // hashing i.toLong would "prove absent" rows that exist.
    val df = docs.select(col("doc_id"),
      col("doc_id").cast("int").as("id32"),
      col("n_chars").cast("float").as("f32"), col("digest"))
    Snapshots.publish(df.repartitionByRange(8, col("doc_id")), table)  // v1
    Snapshots.addBloomIndex(table, "id32")                             // v2
    Snapshots.addBloomIndex(table, "f32")                              // v3
    Snapshots.compact(spark, table, 8, col("doc_id"))                  // v4

    val expect = Snapshots.read(spark, table)
      .filter(col("id32") === 123).mcount()
    assert(expect >= 1)
    assert(Snapshots.readPoint(spark, table, "id32", 123).mcount() == expect,
      "Int probe against an INT32 column hit a bloom false negative")
    // A Long probe against the same INT32 column narrows to hash(int).
    assert(Snapshots.readPoint(spark, table, "id32", 123L).mcount() == expect)
    // And it still SKIPS (the index is doing work, not just not-failing).
    assert(Snapshots.pruneFilesBloom(table, "id32", 123)._2.nonEmpty)

    val fv = Snapshots.read(spark, table).filter(col("doc_id") === 77L)
      .select(col("f32")).first().getFloat(0)
    val fExpect = Snapshots.read(spark, table)
      .filter(col("f32") === fv).mcount()
    assert(fExpect >= 1)
    assert(Snapshots.readPoint(spark, table, "f32", fv).mcount() == fExpect,
      "Float probe against a FLOAT column hit a bloom false negative")
    // A Double probe that is an exact float widening narrows to hash(float).
    assert(Snapshots.readPoint(spark, table, "f32",
      fv.toDouble).mcount() == fExpect)

    // Values the physical type cannot hold are a SOUND skip, not a crash.
    assert(Snapshots.readPoint(spark, table, "id32",
      10000000000L).mcount() == 0)
  }

  test("merge tolerates null keys and falls back to the full find scan " +
      "for probe types the filter reader does not support") {
    import org.apache.spark.sql.functions.{date_add, lit, to_date}
    // Null key in the delta: dropped from the bloom probe set (a null
    // matches nothing), the row itself lands as an insert.
    val t1 = TestDirs.create("graft_bloom6").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), t1)   // v1
    Snapshots.addBloomIndex(t1, "doc_id")                              // v2
    Snapshots.compact(spark, t1, 4, col("doc_id"))                     // v3
    val nullDelta = docs.filter(col("doc_id") === 9L)
      .select(lit(null).cast("long").as("doc_id"), col("lang"),
        col("n_chars"), col("digest"))
      .unionByName(docs.filter(col("doc_id") === 8L)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 3L).as("n_chars"), col("digest")))
    val before = Snapshots.read(spark, t1).mcount()
    Snapshots.merge(spark, t1, nullDelta, "doc_id")                    // v4
    val after = Snapshots.read(spark, t1)
    assert(after.mcount() == before + 1, "null-key row must land as insert")
    assert(after.filter(col("doc_id") === 8L).select(col("n_chars"))
      .first().getLong(0) == docs.filter(col("doc_id") === 8L)
      .select(col("n_chars")).first().getLong(0) + 3L)

    // Date-typed merge key: pruneFilesBloomAny does not hash dates —
    // the merge must degrade to the full scan, never crash.
    val t2 = TestDirs.create("graft_bloom7").toString
    val dated = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), date_add(to_date(lit("2026-01-01")),
        col("doc_id").cast("int")).as("day"), col("n_chars"))
    Snapshots.publish(dated.repartition(4), t2)                        // v1
    Snapshots.addBloomIndex(t2, "day")                                 // v2
    val dDelta = dated.filter(col("doc_id") === 3L)
      .select(col("doc_id"), col("day"), (col("n_chars") + 50L).as("n_chars"))
    Snapshots.merge(spark, t2, dDelta, "day")                          // v3
    assert(Snapshots.read(spark, t2).filter(col("doc_id") === 3L)
      .select(col("n_chars")).first().getLong(0) ==
      dated.filter(col("doc_id") === 3L).select(col("n_chars"))
        .first().getLong(0) + 50L,
      "date-key merge (bloom fallback path) drifted from upsert semantics")
    assert(Snapshots.read(spark, t2).mcount() == 100)
  }

  test("appends after the index carry filters; time travel sees each " +
      "version's property") {
    val table = TestDirs.create("graft_bloom3").toString
    Snapshots.publish(docs.filter(col("doc_id") < 300)
      .repartitionByRange(4, col("doc_id")), table)                     // v1
    Snapshots.addBloomIndex(table, "digest")                            // v2
    val extra = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    Snapshots.append(extra.repartition(2), table)                       // v3

    val probe = docs.filter(col("doc_id") === 350L)
      .select(col("digest")).first().getString(0)
    val (keep, skip) = Snapshots.pruneFilesBloom(table, "digest", probe)
    // The 4 pre-index files are kept conservatively; of the 2 appended
    // (filtered) files, at least one must be skippable for a digest
    // that lives in the other.
    assert(skip.nonEmpty, "appended files must carry usable filters")
    assert(rows(Snapshots.readPoint(spark, table, "digest", probe)) ==
      rows(Snapshots.read(spark, table).filter(col("digest") === probe)))

    // The property is versioned: v1 had no bloom columns.
    assert(Snapshots.bloomColumnsFor(table, 1).isEmpty)
    assert(Snapshots.bloomColumnsFor(table, 3) == Seq("digest"))
  }
}
