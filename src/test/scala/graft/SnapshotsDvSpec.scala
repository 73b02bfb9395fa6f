package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** Merge-on-read deletes (deletion vectors), bin-packing OPTIMIZE,
  * RESTORE-as-commit, and metadata-only row counts on the snapshot table.
  *
  * The laws under test:
  *  - a DV delete masks exactly the matching rows while moving ZERO data
  *    files (the manifest's file list is unchanged — only a DV parquet is
  *    added), and the pre-delete version stays readable;
  *  - DVs are cumulative, later appends are untouched by earlier masks,
  *    and re-deleting masked rows commits nothing;
  *  - every rewrite path (compact / optimize / copy-on-write delete)
  *    reads DV-APPLIED, so masked rows never resurrect, and a full
  *    rewrite purges the masks;
  *  - the change feed surfaces a DV step's masked rows as 'delete' rows
  *    and still diffs a mask-purging compaction as EMPTY;
  *  - [[Snapshots.rowCount]] equals `read(...).mcount()` across the whole
  *    commit-type matrix without opening a data file;
  *  - RESTORE republishes a retained version's exact state (files,
  *    schema, DVs, constraints) as a new commit, history intact;
  *  - vacuum treats DV parquets as manifest-referenced files: retained
  *    versions keep their masks, expired ones fail loudly.
  */
class SnapshotsDvSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** The named array of version `v`'s committed manifest. */
  private def arrOf(table: String, v: Int, key: String): Seq[String] = {
    val s = Files.readString(Paths.get(table, "_manifests", f"v$v%05d.json"))
    val i = s.indexOf("\"" + key + "\":")
    if (i < 0) return Seq.empty
    val a = s.indexOf('[', i); val b = s.indexOf(']', a)
    s.substring(a + 1, b).split(",").map(_.trim.stripPrefix("\"")
      .stripSuffix("\"")).filter(_.nonEmpty).toSeq
  }

  test("DV delete masks rows, moves no data files, time-travels, elides " +
      "empty matches") {
    val table = TestDirs.create("graft_dv1").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    val filesV1 = arrOf(table, 1, "files")

    val v2 = Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3)
    assert(v2 == 2)
    // Merge-on-read law: the data file list is IDENTICAL — the commit
    // added only a deletion-vector parquet.
    assert(arrOf(table, 2, "files") == filesV1)
    assert(arrOf(table, 2, "dvs").nonEmpty)
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3)))
    // Pre-delete version intact (time-travel undo).
    assert(ids(Snapshots.read(spark, table, Some(1))) == ids(docs))

    // Re-deleting already-masked rows matches nothing (the find pass
    // scans DV-applied) — no version committed. Same for a no-match pred.
    assert(Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3) == 2)
    assert(Snapshots.deleteWhereDV(spark, table, col("doc_id") === -999L) == 2)
    assert(Snapshots.latestVersion(table) == 2)
  }

  test("DVs are cumulative, appends are untouched, rowCount is exact " +
      "metadata at every version") {
    val table = TestDirs.create("graft_dv2").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3) // v2
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 7) // v3
    assert(arrOf(table, 3, "dvs").size > arrOf(table, 2, "dvs").size)
    val extra = docs.filter(col("doc_id") % 100 === 11)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Snapshots.append(extra, table) // v4

    val want = ids(docs.filter(col("doc_id") % 10 =!= 3 &&
      col("doc_id") % 10 =!= 7)) ++ ids(extra)
    assert(ids(Snapshots.read(spark, table)) == want)

    // Metadata-only COUNT(*) equals the scan count at every version.
    for (v <- 1 to 4) {
      val scanned = Snapshots.read(spark, table, Some(v)).mcount()
      assert(Snapshots.rowCount(table, Some(v)) == Some(scanned),
        s"rowCount(v$v) disagrees with the scan")
    }
  }

  test("rewrites read DV-applied: compact purges masks, COW delete never " +
      "resurrects them") {
    val table = TestDirs.create("graft_dv3").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3) // v2
    val v3 = Snapshots.compact(spark, table, 2, col("doc_id"))
    assert(arrOf(table, v3, "dvs").isEmpty, "compaction must purge masks")
    assert(ids(Snapshots.read(spark, table)) ==
      ids(Snapshots.read(spark, table, Some(2))))

    // COW delete on a still-DV-carrying table (fresh one): survivors of
    // the rewritten files must not resurrect masked rows.
    val t2 = TestDirs.create("graft_dv3b").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), t2)
    Snapshots.deleteWhereDV(spark, t2, col("doc_id") % 10 === 3)
    Snapshots.deleteWhere(spark, t2, col("doc_id") % 10 === 4)
    assert(ids(Snapshots.read(spark, t2)) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 4)))
    assert(Snapshots.rowCount(t2) ==
      Some(Snapshots.read(spark, t2).mcount()))
  }

  test("optimize bin-packs small files, carries right-sized ones " +
      "byte-for-byte, purges touched masks, and converges") {
    val table = TestDirs.create("graft_dv4").toString
    // 6 small files (a 30% slice) + 1 file holding a 10x-replicated
    // re-keyed copy, big enough that the smalls' SUM stays under its
    // size (one bin → one packed file → the second optimize converges).
    val slice = docs.filter(col("doc_id") % 10 < 3)
    Snapshots.publish(slice.repartition(6), table) // v1
    val big = docs.crossJoin(spark.range(10))
      .withColumn("doc_id", col("doc_id") * 10L + col("id") + 1000000L)
      .drop("id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Snapshots.append(big.repartition(1), table) // v2
    Snapshots.deleteWhereDV(spark, table,
      col("doc_id") % 10 === 1 && col("doc_id") < 1000000L) // v3
    val sizes = arrOf(table, 3, "files")
      .map(n => n -> Files.size(Paths.get(table, "data", n))).toMap
    val bigName = sizes.maxBy(_._2)._1
    val target = sizes(bigName) // everything smaller gets packed

    val before = ids(Snapshots.read(spark, table))
    val v4 = Snapshots.optimize(spark, table, target)
    assert(v4 == 4)
    val after = arrOf(table, 4, "files")
    assert(after.contains(bigName), "right-sized file must carry over")
    assert(after.size < arrOf(table, 3, "files").size,
      "optimize must reduce the file count")
    // Every masked file was rewritten (the masks targeted the small
    // slice), so the DV LIST must drop — later reads lose the anti-join
    // operator, not just its matches.
    assert(arrOf(table, 4, "dvs").isEmpty,
      "a rewrite of every masked file must drop the DV list")
    assert(ids(Snapshots.read(spark, table)) == before)
    assert(Snapshots.rowCount(table) ==
      Some(Snapshots.read(spark, table).mcount()))
    // The small slice sums under the target → one bin → one packed file;
    // a second optimize finds < 2 packable files and commits nothing.
    assert(Snapshots.optimize(spark, table, target) == 4)
  }

  test("restore republishes a retained version's exact state as a new " +
      "commit; history intact; vacuumed targets fail loudly") {
    val table = TestDirs.create("graft_dv5").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table) // v1
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3)    // v2
    val extra = docs.filter(col("doc_id") % 100 === 11)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Snapshots.append(extra, table)                                     // v3
    val v3Ids = ids(Snapshots.read(spark, table))

    val v4 = Snapshots.restore(table, 1)
    assert(v4 == 4)
    assert(ids(Snapshots.read(spark, table)) == ids(docs),
      "restore(1) must read as v1 did")
    // History intact: v3 still reads post-append, and the restore's own
    // metadata-only rowCount matches (masked counts restored too).
    assert(ids(Snapshots.read(spark, table, Some(3))) == v3Ids)
    assert(Snapshots.rowCount(table) == Some(docs.mcount()))

    // Restore to a DV-carrying version keeps its masks (the inheritAlso
    // path: masked counts can't come from a footer read).
    val v5 = Snapshots.restore(table, 2)
    assert(v5 == 5)
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3)))
    assert(Snapshots.rowCount(table) ==
      Some(Snapshots.read(spark, table).mcount()))

    // No-op and out-of-range restores.
    assert(Snapshots.restore(table, 5) == 5)
    intercept[IllegalArgumentException] { Snapshots.restore(table, 99) }

    // Vacuum to the latest only: the restored state keeps reading (its
    // files are shared with retained manifests), but restoring to an
    // expired version fails at manifest resolution, never silently.
    Snapshots.vacuum(table, retainLast = 1)
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3)))
    intercept[IllegalArgumentException] { Snapshots.restore(table, 3) }
  }

  test("change feed: a DV step emits exactly the masked rows as deletes; " +
      "a mask-purging compaction still diffs empty") {
    val table = TestDirs.create("graft_dv6").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table) // v1
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3)    // v2
    val extra = docs.filter(col("doc_id") % 100 === 11)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Snapshots.append(extra, table)                                     // v3
    Snapshots.compact(spark, table, 2, col("doc_id"))                  // v4

    val feed = Snapshots.changesBetween(spark, table, 1).cache()
    val dels = feed.filter(col("_change_type") === "delete")
    assert(dels.select(col("_commit_version")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(2L),
      "only the DV step may emit deletes")
    assert(ids(dels) == ids(docs.filter(col("doc_id") % 10 === 3)),
      "DV deletes must be exactly the masked rows")
    val ins = feed.filter(col("_change_type") === "insert")
    assert(ins.select(col("_commit_version")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(3L),
      "the compaction step must diff EMPTY; only the append inserts")
    assert(ids(ins) == ids(extra))
    feed.unpersist()

    // Bootstrap replay law: v1's content + the feed's net effect ==
    // the current table.
    val boot = Snapshots.changesBetween(spark, table, 0).cache()
    val net = ids(boot.filter(col("_change_type") === "insert")) --
      ids(boot.filter(col("_change_type") === "delete"))
    assert(net == ids(Snapshots.read(spark, table)))
    boot.unpersist()
  }

  test("vacuum keeps retained versions' masks and expires the rest") {
    val table = TestDirs.create("graft_dv7").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table) // v1
    Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3)    // v2
    val extra = docs.filter(col("doc_id") % 100 === 11)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Snapshots.append(extra, table)                                     // v3

    Snapshots.vacuum(table, retainLast = 2) // keeps v2, v3
    val dvNames = arrOf(table, 3, "dvs")
    assert(dvNames.nonEmpty &&
      dvNames.forall(n => Files.exists(Paths.get(table, "data", n))),
      "retained versions' DV parquets must survive vacuum")
    assert(ids(Snapshots.read(spark, table, Some(2))) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3)))
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") % 10 =!= 3)) ++ ids(extra))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(1))
    }
  }

  test("a lost stats sidecar under carried DVs degrades rowCount to " +
      "None — unknown masked counts are never reported as a number") {
    val table = TestDirs.create("graft_dv_lost_stats").toString
    Snapshots.publish(docs.filter(col("doc_id") < 100)
      .repartition(2), table)                                          // v1
    Snapshots.deleteWhereDV(spark, table, col("doc_id") < 10)          // v2
    assert(Snapshots.rowCount(table, Some(2)).contains(90L))

    // THE CRASH WINDOW: v2's manifest committed but its stats sidecar
    // never landed (stats are post-commit; a dying writer or a racing
    // reader can observe exactly this state).
    Files.delete(Paths.get(table, "_stats", "v00002.tsv"))

    // v3 carries v2's files AND its deletion vectors. The carried files'
    // masked counts are now unknowable — baking 0 would overcount (101
    // where the true count is 91) for v3 and every later version.
    Snapshots.append(docs.filter(col("doc_id") === 100L), table)       // v3
    assert(Snapshots.rowCount(table, Some(3)).isEmpty,
      "unknown masked counts must degrade rowCount to None, not a lie")
    // The actual read is untouched — DVs still apply.
    assert(Snapshots.read(spark, table).mcount() == 91)
    // And the unknown PROPAGATES (a later thin commit can't launder it).
    Snapshots.append(docs.filter(col("doc_id") === 101L), table)       // v4
    assert(Snapshots.rowCount(table, Some(4)).isEmpty)

    // Recovery: a full rewrite re-derives counts from fresh footers and
    // purges the masks — rowCount becomes exact again.
    Snapshots.optimize(spark, table, 1024L * 1024 * 1024)              // v5
    assert(Snapshots.rowCount(table).contains(92L))
    assert(Snapshots.read(spark, table).mcount() == 92)
  }
}
