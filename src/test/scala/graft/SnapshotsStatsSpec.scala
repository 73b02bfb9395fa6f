package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** Manifest-level file statistics + the change data feed — the two
  * READER-side contracts layered on the snapshot table this round:
  *
  *  - stats: every commit records per-file numeric min/max from the
  *    parquet footers the writer already produced; `pruneFiles`/
  *    `readRange` must skip ONLY files that provably cannot hold a
  *    matching row (missing stats => conservative keep), and the pruned
  *    read must be row-identical to the full-scan filter.
  *  - changes: `changesBetween(from, to)` derives inserts/deletes purely
  *    from manifest file-diffs + bag-difference, so a copy-on-write
  *    rewrite's carried rows cancel, a compaction diffs to nothing, and
  *    the feed replays a version range exactly.
  */
class SnapshotsStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("stats are recorded at commit and prune a clustered range read") {
    val table = TestDirs.create("graft_stats1").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table)

    val stats = Snapshots.statsFor(table, 1)
    assert(stats.nonEmpty, "no stats recorded at commit")
    assert(stats.values.forall(_.contains("doc_id")),
      "doc_id stats missing from some file")

    // A narrow range over an 8-way range-clustered table must skip most
    // files from METADATA alone...
    val (keep, skip) = Snapshots.pruneFiles(table, "doc_id", 100, 160)
    assert(keep.size < skip.size,
      s"pruning kept ${keep.size} of ${keep.size + skip.size} files")
    assert(keep.nonEmpty)

    // ...and the pruned read is row-identical to the full-scan filter.
    val pruned = ids(Snapshots.readRange(spark, table, "doc_id", 100, 160))
    val full = ids(Snapshots.read(spark, table)
      .filter(col("doc_id").between(100, 160)))
    assert(pruned == full, "pruned read dropped or invented rows")

    // An empty range prunes everything and still returns a typed frame.
    val none = Snapshots.readRange(spark, table, "doc_id", -500, -1)
    assert(none.mcount() == 0)
    assert(none.columns.contains("lang"))
  }

  test("multi-point read prunes files and is row-identical to the " +
      "full-scan isin AND the per-value readRange union") {
    val table = TestDirs.create("graft_statsPts").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table)

    // Scattered probe set: some values co-resident in one file, some in
    // files of their own, some absent from the table entirely.
    val probes = Seq(3L, 7L, 150L, 151L, 310L, 498L, 10000L)
    val pts = ids(Snapshots.readPoints(spark, table, "doc_id", probes))
    val full = ids(Snapshots.read(spark, table)
      .filter(col("doc_id").isin(probes: _*)))
    assert(pts == full, "multi-point read dropped or invented rows")
    val unioned = ids(probes.map(p =>
        Snapshots.readRange(spark, table, "doc_id", p, p))
      .reduce(_.union(_)))
    assert(pts == unioned,
      "multi-point read diverges from the per-value readRange union")

    // Stats pruning must engage: a tight probe set on the 8-way
    // range-clustered layout cannot need every file.
    val v = Snapshots.latestVersion(table)
    val stats = Snapshots.statsFor(table, v)
    assert(stats.nonEmpty)
    val lows = ids(Snapshots.readPoints(spark, table, "doc_id", Seq(3L, 7L)))
    assert(lows.toSeq.sorted == Seq(3L, 7L))

    // All-absent probes return a typed empty frame.
    val none = Snapshots.readPoints(spark, table, "doc_id", Seq(-5L, 99999L))
    assert(none.mcount() == 0)
    assert(none.columns.contains("lang"))
  }

  test("a column with no stats is conservatively kept; appends inherit " +
      "carried files' stats") {
    val table = TestDirs.create("graft_stats2").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    // `lang` is a string column: no numeric stats => no file may be
    // skipped on it, whatever the bounds.
    val (keep, skip) = Snapshots.pruneFiles(table, "lang", 0, 0)
    assert(skip.isEmpty, s"pruned on a stat-less column: $skip")
    assert(keep.size == Snapshots.statsFor(table, 1).size)

    // Append: the carried files' stats entries are INHERITED verbatim
    // (immutable files, immutable stats), new files get fresh entries.
    Snapshots.append(docs.filter(col("doc_id") < 10)
      .select(col("doc_id") + 10000, col("lang"), col("n_chars"))
      .toDF("doc_id", "lang", "n_chars"), table)
    val s1 = Snapshots.statsFor(table, 1)
    val s2 = Snapshots.statsFor(table, 2)
    assert(s1.keySet.subsetOf(s2.keySet), "append lost carried stats")
    assert(s1.forall { case (f, cols) => s2(f) == cols },
      "append rewrote an immutable file's stats")
    assert((s2.keySet -- s1.keySet).nonEmpty, "appended file has no stats")
    // The appended slice lives past 10000: a read below prunes it out.
    val (k2, sk2) = Snapshots.pruneFiles(table, "doc_id", 0, 499)
    assert(sk2.nonEmpty, "append's disjoint file was not pruned")
    assert(ids(Snapshots.readRange(spark, table, "doc_id", 0, 499)) ==
      ids(docs))
  }

  test("delete/merge/compact keep stats current; vacuum expires them") {
    val table = TestDirs.create("graft_stats3").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    Snapshots.deleteWhere(spark, table, col("doc_id") < 50)          // v2
    Snapshots.merge(spark, table,
      docs.filter(col("doc_id").between(100, 109))
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 7).as("n_chars")), "doc_id")             // v3
    Snapshots.compact(spark, table, 3, col("doc_id"))                // v4

    // Every version's stats cover exactly its manifest's files.
    for (v <- 1 to 4) {
      val m = Files.readString(
        Paths.get(table, "_manifests", f"v$v%05d.json"))
      val inManifest = "g[0-9a-f]{8}-part\\d{5}\\.parquet".r.findAllIn(m).toSet
      assert(Snapshots.statsFor(table, v).keySet == inManifest,
        s"v$v stats out of sync with its manifest")
    }
    // Post-compaction pruning still equals the full filter.
    assert(ids(Snapshots.readRange(spark, table, "doc_id", 200, 260)) ==
      ids(Snapshots.read(spark, table)
        .filter(col("doc_id").between(200, 260))))

    Snapshots.vacuum(table, retainLast = 2)
    assert(Snapshots.statsFor(table, 1).isEmpty,
      "expired version's stats survived the vacuum")
    assert(Snapshots.statsFor(table, 4).nonEmpty)
  }

  test("multi-range pruning on a Z-ordered table skips on both dimensions") {
    val table = TestDirs.create("graft_stats_z").toString
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"))
    Snapshots.publish(ev.repartition(8), table)
    Snapshots.compactZ(spark, table, 8,
      col("user_id") * 256, col("event_id") % 65536)

    val r = ev.agg(org.apache.spark.sql.functions.min(col("user_id")),
      org.apache.spark.sql.functions.max(col("user_id")),
      org.apache.spark.sql.functions.min(col("event_id")),
      org.apache.spark.sql.functions.max(col("event_id"))).collect()(0)
    val (uMin, uMax, eMin, eMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    def band(lo: Long, hi: Long): (Long, Long) =
      (lo + (hi - lo) * 3 / 8, lo + (hi - lo) * 5 / 8)
    val (u0, u1) = band(uMin, uMax)
    val (e0, e1) = band(eMin, eMax)
    val ranges = Seq(("user_id", u0, u1), ("event_id", e0, e1))

    // The 2-D box must skip files — that is what the Morton layout buys
    // (a 1-D range layout could only ever skip on its sort key) — and
    // the conjunctive prune is at least as tight as either dimension.
    val (keepM, skipM) = Snapshots.pruneFilesMulti(table, ranges)
    assert(skipM.nonEmpty, "2-D box skipped nothing on the Z layout")
    val (keepU, _) = Snapshots.pruneFiles(table, "user_id", u0, u1)
    val (keepE, _) = Snapshots.pruneFiles(table, "event_id", e0, e1)
    assert(keepM.size <= math.min(keepU.size, keepE.size))

    // Row-identical to the full-scan conjunctive filter.
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("event_id"), col("user_id"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rows(Snapshots.readRanges(spark, table, ranges)) ==
      rows(Snapshots.read(spark, table)
        .filter(col("user_id").between(u0, u1)
          && col("event_id").between(e0, e1))))
  }

  test("string-equality pruning skips files on a lang-clustered table " +
      "and stays row-identical") {
    val table = TestDirs.create("graft_stats_s").toString
    Snapshots.publish(docs.repartitionByRange(6, col("lang"), col("doc_id")),
      table)

    // String stats recorded (tag S) for the lang column on every file.
    val stats = Snapshots.statsFor(table, 1)
    assert(stats.values.forall(_.get("lang").exists(_._1 == "S")),
      "lang string stats missing from some file")

    val langs = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 3, s"need a multi-lang corpus, got ${langs.toSeq}")
    var skippedAny = false
    for (l <- langs) {
      val (keep, skip) = Snapshots.pruneFilesEq(table, "lang", l)
      skippedAny ||= skip.nonEmpty
      // Row-identical to the full-scan filter — a wrongly skipped file
      // is row LOSS, the one unforgivable stats-pruning failure.
      assert(ids(Snapshots.readEq(spark, table, "lang", l)) ==
        ids(Snapshots.read(spark, table).filter(col("lang") === l)),
        s"readEq($l) drifted from the full-scan filter")
      assert(keep.nonEmpty, s"every file pruned for present lang $l")
    }
    assert(skippedAny,
      "no lang value skipped any file on a lang-clustered 6-file table")

    // A value absent from the corpus prunes everything (empty frame,
    // schema preserved) — and never errors.
    val none = Snapshots.readEq(spark, table, "lang", "zz-absent")
    assert(none.mcount() == 0)
    assert(none.columns.toSeq == Seq("doc_id", "lang", "n_chars"))

    // Numeric range pruning is unaffected by the string stat rows, and
    // a numeric-range probe of a STRING column keeps conservatively.
    val (k0, s0) = Snapshots.pruneFilesEq(table, "lang", langs.head)
    val total = k0.size + s0.size
    val (keepN, _) = Snapshots.pruneFilesMulti(table, Seq(("lang", 0L, 1L)))
    assert(keepN.size == total,
      "numeric range over a string column must keep every file")
  }

  test("changesBetween replays deletes, updates, and inserts; carried " +
      "rows cancel") {
    val table = TestDirs.create("graft_cdf1").toString
    val base = docs.select(col("doc_id"), col("n_chars"))
    Snapshots.publish(base.repartitionByRange(4, col("doc_id")), table) // v1
    Snapshots.deleteWhere(spark, table, col("doc_id") < 50)             // v2
    val upd = base.filter(col("doc_id").between(50, 59))
      .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
    val ins = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("n_chars"))
    Snapshots.merge(spark, table, upd.unionByName(ins), "doc_id")       // v3

    val feed = Snapshots.changesBetween(spark, table, 1)
      .select(col("doc_id"), col("n_chars"),
        col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3))).toSet

    val orig = base.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect =
      orig.filter(_._1 < 50).map { case (d, n) => (d, n, "delete", 2L) }.toSet ++
      orig.filter(k => k._1 >= 50 && k._1 <= 59).flatMap { case (d, n) =>
        Seq((d, n, "delete", 3L), (d, n + 1000L, "insert", 3L)) }.toSet ++
      orig.filter(_._1 < 5).map { case (d, n) =>
        (d + 1000000L, n, "insert", 3L) }.toSet
    assert(feed == expect)

    // A partial range replays only its steps.
    val v3only = Snapshots.changesBetween(spark, table, 2)
    assert(v3only.filter(col("_commit_version") === 2L).mcount() == 0)
    assert(v3only.mcount() == 10 * 2 + 5)

    // Compaction rewrites every file but changes no row: empty feed.
    Snapshots.compact(spark, table, 2, col("doc_id"))                   // v4
    assert(Snapshots.changesBetween(spark, table, 3).mcount() == 0)

    // Metadata-only commit: empty feed without reading a byte, and the
    // empty frame still carries the change-feed schema.
    Snapshots.addColumns(spark, table,
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.DoubleType))                         // v5
    val empty = Snapshots.changesBetween(spark, table, 4)
    assert(empty.mcount() == 0)
    assert(empty.columns.contains("_change_type"))

    // An empty range [from, from] is legal and empty; from=0 is the
    // BOOTSTRAP read (v1's content as inserts); out-of-range loud.
    assert(Snapshots.changesBetween(spark, table, 5).mcount() == 0)
    val boot = Snapshots.changesBetween(spark, table, 0, Some(1))
    assert(boot.filter(col("_change_type") === "insert").mcount() ==
      boot.mcount() && boot.mcount() == 500)
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, table, -1)
    }
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, table, 2, Some(99))
    }
  }

  test("an evolved-column backfill diffs as a value change under the " +
      "later schema") {
    val table = TestDirs.create("graft_cdf2").toString
    Snapshots.publish(docs.filter(col("doc_id") < 100)
      .repartitionByRange(2, col("doc_id")), table)                     // v1
    Snapshots.addColumns(spark, table,
      org.apache.spark.sql.types.StructField("quality",
        org.apache.spark.sql.types.DoubleType))                         // v2
    val backfill = Snapshots.read(spark, table)
      .filter(col("doc_id") < 10)
      .withColumn("quality", lit(0.9))
    Snapshots.merge(spark, table, backfill, "doc_id")                   // v3

    val feed = Snapshots.changesBetween(spark, table, 1)
    // 10 deletes (quality null) + 10 inserts (quality 0.9), all v3.
    assert(feed.mcount() == 20)
    assert(feed.filter(col("_change_type") === "insert"
      && col("quality") === 0.9).mcount() == 10)
    assert(feed.filter(col("_change_type") === "delete"
      && col("quality").isNull).mcount() == 10)
  }
}
