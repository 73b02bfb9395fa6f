package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** The snapshot-table reader contract: committed versions are immutable
  * and each read resolves to exactly one manifest's files — a half-done
  * publish (orphan data files, manifest without pointer flip) is
  * INVISIBLE, and every historical version stays readable after later
  * publishes (time travel).
  */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** Data-file names listed by version `v`'s committed manifest. */
  private def mfiles(table: String, v: Int): Set[String] =
    "g[0-9a-f]{8}-part\\d{5}\\.parquet".r
      .findAllIn(Files.readString(
        Paths.get(table, "_manifests", f"v$v%05d.json"))).toSet

  test("publish/read round-trip, snapshot isolation, time travel") {
    val table = TestDirs.create("graft_snap").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    val v1 = Snapshots.publish(docs, table)
    assert(v1 == 1)
    assert(ids(Snapshots.read(spark, table)) == ids(docs))

    // v2 rewrites the table as a filtered subset — NOT an append — and
    // the reader must flip to exactly it, while v1 stays readable.
    val subset = docs.filter(col("doc_id") % 2 === 0)
    val v2 = Snapshots.publish(subset, table)
    assert(v2 == 2)
    assert(ids(Snapshots.read(spark, table)) == ids(subset))
    assert(ids(Snapshots.read(spark, table, Some(1))) == ids(docs))
    assert(Snapshots.latestVersion(table) == 2)
  }

  test("a crashed commit is invisible: orphans and manifest temp debris") {
    val table = TestDirs.create("graft_snap2").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Snapshots.publish(docs, table)
    val before = ids(Snapshots.read(spark, table))

    // Crash between stage and manifest: orphan data files appear.
    docs.limit(10).write.mode("overwrite").parquet(s"$table/crash_stage")
    Files.list(Paths.get(s"$table/crash_stage")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.move(p, Paths.get(table, "data",
          "gdeadbeef-orphan-" + p.getFileName.toString))
    }
    assert(ids(Snapshots.read(spark, table)) == before,
      "orphan data files leaked into the read")

    // Crash between the manifest-record write and the atomic create: a
    // temp manifest (never linked into place) is staging debris, not a
    // commit — the protocol has NO "manifest present but uncommitted"
    // state, because only the atomic create of a COMPLETE record makes a
    // v*.json appear; un-linked temps must be invisible to version
    // resolution.
    Files.writeString(Paths.get(table, "_manifests", ".tmp-deadbeef"),
      """{"batch":-1,"files":["ghost.parquet"],"schema":null}""")
    assert(Snapshots.latestVersion(table) == 1)
    assert(ids(Snapshots.read(spark, table)) == before,
      "manifest temp debris leaked into the default read")
    // ...and TIME TRAVEL to the never-committed version must fail loudly.
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(2))
    }

    // And the NEXT successful publish commits cleanly over the debris.
    val subset = docs.filter(col("doc_id") < 100)
    val v = Snapshots.publish(subset, table)
    assert(v == 2)
    assert(ids(Snapshots.read(spark, table)) == ids(subset))
  }

  test("append commits reuse prior files; compact preserves rows") {
    val table = TestDirs.create("graft_snap3").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val half1 = docs.filter(col("doc_id") < 250)
    val half2 = docs.filter(col("doc_id") >= 250)
    Snapshots.publish(half1.repartition(4), table)
    val v2 = Snapshots.append(half2.repartition(4), table)
    assert(v2 == 2)
    assert(ids(Snapshots.read(spark, table)) == ids(docs))
    assert(ids(Snapshots.read(spark, table, Some(1))) == ids(half1))
    // Append reuses v1's data files byte-for-byte: v2's manifest must
    // list every v1 file PLUS new ones (immutable-file sharing, the
    // thing that makes appends O(new data) instead of O(table)).
    assert(mfiles(table, 1).subsetOf(mfiles(table, 2)))
    assert((mfiles(table, 2) -- mfiles(table, 1)).nonEmpty)

    // (compaction leg below; streaming exactly-once in its own test)
    // Compaction: same rows, range layout, old version still readable.
    val v3 = Snapshots.compact(spark, table, 2, col("doc_id"))
    assert(v3 == 3)
    assert(ids(Snapshots.read(spark, table)) == ids(docs))
    assert(ids(Snapshots.read(spark, table, Some(2))) == ids(docs))
    assert(mfiles(table, 3).intersect(mfiles(table, 2)).isEmpty,
      "compaction manifest still references pre-compaction files")
    assert(mfiles(table, 3).size == 2, "compaction did not produce 2 files")
  }

  test("vacuum deletes only what no retained manifest references") {
    val table = TestDirs.create("graft_snap6").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // v1 full, v2 = v1's files + appended rows (SHARED files), v3 rewrite.
    Snapshots.publish(docs.filter(col("doc_id") < 250), table)
    Snapshots.append(docs.filter(col("doc_id") >= 250), table)
    Snapshots.publish(docs.filter(col("doc_id") < 100), table)
    // plus a crashed-stage orphan
    docs.limit(5).write.mode("overwrite").parquet(s"$table/stage-vX-crash")
    val v2Rows = ids(Snapshots.read(spark, table, Some(2)))
    val v3Rows = ids(Snapshots.read(spark, table, Some(3)))

    val v1Files = mfiles(table, 1)
    val removed = Snapshots.vacuum(table, retainLast = 2)
    // retained versions byte-identical; expired version fails loudly
    assert(ids(Snapshots.read(spark, table, Some(2))) == v2Rows)
    assert(ids(Snapshots.read(spark, table, Some(3))) == v3Rows)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(1))
    }
    // v1's files SURVIVE (v2's manifest references them — the shared-file
    // allow-list rule), so none of them was removed...
    assert(removed.toSet.intersect(v1Files).isEmpty,
      s"vacuum deleted files a retained manifest references: $removed")
    // ...and the crashed stage directory is gone.
    assert(!Files.exists(Paths.get(s"$table/stage-vX-crash")))

    // Retaining only the latest drops v2 and now v1's files DO go.
    val removed2 = Snapshots.vacuum(table, retainLast = 1)
    assert(removed2.toSet.intersect(v1Files).nonEmpty)
    assert(ids(Snapshots.read(spark, table)) == v3Rows)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(2))
    }
  }

  test("Z-order compaction commit preserves rows and versions") {
    val table = TestDirs.create("graft_snap7").toString
    // events carry the two keys the z-order census normalizes.
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"))
    Snapshots.publish(ev.repartition(8), table)
    val v2 = Snapshots.compactZ(spark, table, 4,
      col("user_id") * 256, col("event_id") % 65536)
    assert(v2 == 2)
    def rows(v: Int): Set[(Long, Long)] =
      Snapshots.read(spark, table, Some(v))
        .select(col("event_id"), col("user_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(2) == rows(1))
    assert(mfiles(table, 2).size == 4, "z-compaction did not produce 4 files")
  }

  test("deleteWhere is copy-on-write: only touched files rewritten") {
    val table = TestDirs.create("graft_snap8").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // Range layout so the predicate's rows live in a known file subset.
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    val before = ids(Snapshots.read(spark, table))

    val v2 = Snapshots.deleteWhere(spark, table, col("doc_id") < 50)
    assert(v2 == 2)
    assert(ids(Snapshots.read(spark, table)) ==
      before.filter(_ >= 50), "delete removed the wrong rows")
    // Pre-delete version is the undo.
    assert(ids(Snapshots.read(spark, table, Some(1))) == before)
    // Copy-on-write at FILE granularity: untouched v1 files carry over
    // byte-for-byte (by name), and at least one v1 file was dropped.
    val v1Files = mfiles(table, 1)
    val v2Carried = v1Files.intersect(mfiles(table, 2)).size
    assert(v2Carried >= 1 && v2Carried < v1Files.size,
      s"expected a strict subset of v1 files carried over, got " +
        s"$v2Carried of ${v1Files.size}")
    assert((mfiles(table, 2) -- v1Files).nonEmpty,
      "no rewritten file in the new manifest")

    // An empty delete commits NO new version (Delta semantics).
    assert(Snapshots.deleteWhere(spark, table, col("doc_id") < 0) == 2)
    assert(Snapshots.latestVersion(table) == 2)
  }

  test("merge upserts delta rows as one transactional commit") {
    val table = TestDirs.create("graft_snap9").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    val n = docs.mcount()

    // delta = 10 UPDATES (doc_id < 10, n_chars bumped) + 5 INSERTS.
    val updates = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), (col("n_chars") + 1000).as("n_chars"))
    val inserts = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"), col("n_chars"))
    val v2 = Snapshots.merge(spark, table,
      updates.unionByName(inserts), "doc_id")
    assert(v2 == 2)

    val after = Snapshots.read(spark, table)
    assert(after.mcount() == n + 5, "inserts not applied")
    val bumped = after.filter(col("doc_id") < 10)
      .join(docs.filter(col("doc_id") < 10)
        .select(col("doc_id"), col("n_chars").as("orig")), "doc_id")
    assert(bumped.filter(col("n_chars") =!= col("orig") + 1000).mcount() == 0,
      "updates not last-writer-wins")
    // Pre-merge version intact; untouched files carried over.
    assert(Snapshots.read(spark, table, Some(1)).mcount() == n)
    assert(mfiles(table, 1).intersect(mfiles(table, 2)).nonEmpty,
      "merge rewrote untouched files (not copy-on-write)")
  }

  test("merge with tombstones: upserts and deletes land in one commit") {
    val table = TestDirs.create("graft_snap13").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)
    val n = docs.mcount()

    // One CDC batch: 5 updates, 3 inserts, 4 tombstones — one version.
    val cdc = docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), (col("n_chars") + 7).as("n_chars"),
        lit(false).as("is_delete"))
      .unionByName(docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 900000).as("doc_id"), col("n_chars"),
          lit(false).as("is_delete")))
      .unionByName(docs.filter(col("doc_id") >= 10 && col("doc_id") < 14)
        .select(col("doc_id"), col("n_chars"), lit(true).as("is_delete")))
    val v2 = Snapshots.merge(spark, table, cdc, "doc_id",
      deleteFlag = Some("is_delete"))
    assert(v2 == 2)

    val after = Snapshots.read(spark, table)
    assert(after.mcount() == n + 3 - 4, "upsert+delete arithmetic is off")
    assert(after.filter(col("doc_id") >= 10 && col("doc_id") < 14)
      .mcount() == 0, "tombstoned keys survived")
    assert(after.filter(col("doc_id") < 5)
      .join(docs.filter(col("doc_id") < 5)
        .select(col("doc_id"), col("n_chars").as("orig")), "doc_id")
      .filter(col("n_chars") =!= col("orig") + 7).mcount() == 0,
      "updates not applied alongside the deletes")
    assert(!after.columns.contains("is_delete"),
      "the tombstone flag leaked into the table schema")
    // The pre-merge version remains the undo for the WHOLE batch.
    assert(Snapshots.read(spark, table, Some(1)).mcount() == n)
  }

  test("staged-data debris from a crashed commit does not wedge the retry") {
    val table = TestDirs.create("graft_snap10").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Snapshots.publish(docs, table)
    // Crash AFTER staging moved parts into data/ but BEFORE the commit:
    // attempt-unique names mean the debris can never collide with any
    // later attempt's files — the retry commits cleanly and the debris
    // stays an invisible orphan until vacuum collects it.
    Files.writeString(Paths.get(table, "data", "gdeadbeef-part00000.parquet"),
      "crashed-attempt debris, not parquet")
    val subset = docs.filter(col("doc_id") < 100)
    val v2 = Snapshots.publish(subset, table)
    assert(v2 == 2)
    assert(ids(Snapshots.read(spark, table)) == ids(subset))
    // vacuum collects it (unreferenced by any retained manifest).
    assert(Snapshots.vacuum(table, retainLast = 2)
      .contains("gdeadbeef-part00000.parquet"))
  }

  test("vacuum tolerates a retention increase after a tighter vacuum") {
    val table = TestDirs.create("graft_snap11").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    (1 to 4).foreach(k =>
      Snapshots.publish(docs.filter(col("doc_id") < k * 100), table))
    Snapshots.vacuum(table, retainLast = 1)
    // keepFrom now points below the oldest surviving manifest; expired
    // versions must be SKIPPED, not abort the vacuum.
    Snapshots.vacuum(table, retainLast = 3)
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") < 400)))
  }

  test("an all-empty-partitions commit stays readable") {
    val table = TestDirs.create("graft_snap12").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Snapshots.publish(docs.filter(col("doc_id") < -1), table)
    val empty = Snapshots.read(spark, table)
    assert(empty.mcount() == 0)
    assert(empty.columns.contains("doc_id"), "schema lost on empty commit")
    // and an empty APPEND onto a non-empty table is a readable no-op.
    Snapshots.append(docs.filter(col("doc_id") < 100), table)
    Snapshots.append(docs.filter(col("doc_id") < -1), table)
    assert(ids(Snapshots.read(spark, table)) ==
      ids(docs.filter(col("doc_id") < 100)))
  }

  test("streaming appendBatch is exactly-once under batch replay") {
    // foreachBatch re-runs a batch after failure; the sink's batchId
    // watermark rides in the same atomic rename as the data commit, so a
    // replay is a no-op and an interleaved batch commit can't duplicate.
    val table = TestDirs.create("graft_snap4").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val b0 = docs.filter(col("doc_id") < 100)
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)

    assert(Snapshots.appendBatch(b0, table, 0L))
    assert(ids(Snapshots.read(spark, table)) == ids(b0))
    // replay of batch 0 after a simulated failure: no-op
    assert(!Snapshots.appendBatch(b0, table, 0L))
    assert(Snapshots.latestVersion(table) == 1)
    assert(Snapshots.appendBatch(b1, table, 1L))
    assert(ids(Snapshots.read(spark, table)) == ids(b0) ++ ids(b1))
    // replay of batch 1 AND a stale batch 0: both no-ops, table unchanged
    assert(!Snapshots.appendBatch(b1, table, 1L))
    assert(!Snapshots.appendBatch(b0, table, 0L))
    assert(Snapshots.latestVersion(table) == 2)
    assert(ids(Snapshots.read(spark, table)) == ids(b0) ++ ids(b1))
    // a non-streaming commit carries the batch watermark forward: the
    // publish below must not reopen batch 1 for replay.
    Snapshots.publish(docs, table)
    assert(Snapshots.lastBatchId(table) == 1L)
    assert(!Snapshots.appendBatch(b1, table, 1L))

    // And the real wiring: drive it from an actual foreachBatch stream.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val table2 = TestDirs.create("graft_snap5").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = input.toDS().toDF("doc_id")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Snapshots.appendBatch(b, table2, id); ()
      }
      .start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L, 5L); q.processAllAvailable()
      val got = Snapshots.read(spark, table2)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L, 4L, 5L))
      assert(Snapshots.latestVersion(table2) == 2)
    } finally q.stop()
  }

  test("streaming mergeBatch is exactly-once under batch replay, " +
      "tombstones included") {
    val table = TestDirs.create("graft_snap_mb").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    Snapshots.publish(docs.filter(col("doc_id") < 100)
      .repartitionByRange(4, col("doc_id")), table)               // v1

    // Batch 0: 5 updates + 2 inserts.
    val b0 = docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      .unionByName(docs.filter(col("doc_id").between(100, 101))
        .select(col("doc_id"), col("n_chars")))
    assert(Snapshots.mergeBatch(spark, table, b0, "doc_id", 0L))
    val after0 = ids(Snapshots.read(spark, table))
    assert(after0 == ids(docs.filter(col("doc_id") < 102)))
    // Replay of batch 0 is a NO-OP — same version, same rows.
    assert(!Snapshots.mergeBatch(spark, table, b0, "doc_id", 0L))
    assert(Snapshots.latestVersion(table) == 2)

    // Batch 1: a CDC mix — one upsert + one tombstone, one transaction.
    val b1 = docs.filter(col("doc_id") === 10L)
      .select(col("doc_id"), (col("n_chars") + 5L).as("n_chars"))
      .withColumn("_del", lit(false))
      .unionByName(docs.filter(col("doc_id") === 20L)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("_del", lit(true)))
    assert(Snapshots.mergeBatch(spark, table, b1, "doc_id", 1L,
      deleteFlag = Some("_del")))
    assert(ids(Snapshots.read(spark, table)) == after0 - 20L)
    // Replays of both batches: no-ops, table unchanged.
    assert(!Snapshots.mergeBatch(spark, table, b1, "doc_id", 1L,
      deleteFlag = Some("_del")))
    assert(!Snapshots.mergeBatch(spark, table, b0, "doc_id", 0L))
    assert(Snapshots.latestVersion(table) == 3)

    // The real wiring: an upsert stream through foreachBatch, where the
    // SAME doc arrives revised across batches — last writer wins, and
    // the batch watermark survives the stream.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val table2 = TestDirs.create("graft_snap_mb2").toString
    Snapshots.publish(Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars"),
      table2)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = input.toDS().toDF("doc_id", "n_chars")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Snapshots.mergeBatch(spark, table2, b, "doc_id", id); ()
      }
      .start()
    try {
      input.addData((1L, 11L), (3L, 30L)); q.processAllAvailable()
      input.addData((1L, 12L)); q.processAllAvailable()
      val got = Snapshots.read(spark, table2)
        .select(col("doc_id"), col("n_chars")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 12L, 2L -> 20L, 3L -> 30L))
    } finally q.stop()
  }

  test("ADD COLUMN is metadata-only; old files null-fill; time travel " +
      "reads the old schema") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    val table = TestDirs.create("graft_snap_evo").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Snapshots.publish(docs, table)

    def dataFiles() = {
      val l = Files.list(Paths.get(table, "data"))
      try { val s = new java.util.ArrayList[String]()
        l.forEach(p => { s.add(p.getFileName.toString); () }); s }
      finally l.close()
    }
    val filesBefore = dataFiles()

    // Metadata-only: v2 exists, NOT ONE data file was written or moved.
    val v2 = Snapshots.addColumns(spark, table,
      StructField("quality", DoubleType), StructField("tokens", LongType))
    assert(v2 == 2)
    assert(dataFiles() == filesBefore, "ADD COLUMN touched data files")

    // The evolved column exists, null-filled, in every pre-evolution row.
    val latest = Snapshots.read(spark, table)
    assert(latest.schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "n_chars", "quality", "tokens"))
    assert(latest.filter(col("quality").isNotNull).mcount() == 0)
    assert(latest.mcount() == docs.mcount())

    // Time travel to v1 reads the PRE-evolution schema.
    assert(Snapshots.read(spark, table, Some(1)).schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "n_chars"))

    // A colliding ADD fails loudly.
    intercept[IllegalArgumentException] {
      Snapshots.addColumns(spark, table, StructField("lang", DoubleType))
    }
  }

  test("appends and merges after evolution carry values; compat gate " +
      "rejects drift") {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val table = TestDirs.create("graft_snap_evo2").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Snapshots.publish(docs.filter(col("doc_id") < 100), table)
    Snapshots.addColumns(spark, table, StructField("quality", DoubleType))

    // Appending the OLD shape now fails: the frame misses a table column.
    intercept[IllegalArgumentException] {
      Snapshots.append(docs.filter(col("doc_id") >= 100), table)
    }
    // Appending with a NEW column fails without mergeSchema=true ...
    val extra = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .withColumn("quality", lit(0.5))
      .withColumn("extra_col", lit(1L))
    intercept[IllegalArgumentException] { Snapshots.append(extra, table) }
    // ... and evolves the schema with it.
    Snapshots.append(extra, table, mergeSchema = true)
    val afterMerge = Snapshots.read(spark, table)
    assert(afterMerge.schema.fieldNames.contains("extra_col"))
    assert(afterMerge.filter(col("extra_col").isNotNull).mcount() == 20)
    // Type drift on an existing column always fails.
    val drift = extra.withColumn("quality", lit(1))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("quality"), col("extra_col"))
    intercept[IllegalArgumentException] { Snapshots.append(drift, table) }

    // MERGE backfills the evolved column in pre-evolution files: the
    // rewrite path must read old files UNDER the evolved schema.
    val backfill = Snapshots.read(spark, table)
      .filter(col("doc_id") < 10)
      .withColumn("quality", lit(0.9))
    Snapshots.merge(spark, table, backfill, "doc_id")
    val got = Snapshots.read(spark, table)
    assert(got.filter(col("doc_id") < 10 && col("quality") =!= 0.9)
      .mcount() == 0)
    assert(got.filter(col("doc_id") >= 10 && col("doc_id") < 100)
      .filter(col("quality").isNotNull).mcount() == 0,
      "merge invented values outside the backfill slice")
    // ... and deleteWhere on the evolved column prunes correctly even
    // though most files predate it.
    Snapshots.deleteWhere(spark, table, col("quality") === 0.5)
    assert(Snapshots.read(spark, table)
      .filter(col("quality") === 0.5).mcount() == 0)
  }

  test("CHECK constraints gate every write path at commit time") {
    import org.apache.spark.sql.functions.lit
    val table = TestDirs.create("graft_snap_check").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    Snapshots.publish(docs, table)                                   // v1

    // Adding a constraint the CURRENT data violates is refused outright.
    intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, table, "impossible", "doc_id < 0")
    }
    assert(Snapshots.latestVersion(table) == 1)

    // A valid constraint commits metadata-only and binds from v2 on.
    val v2 = Snapshots.addConstraint(spark, table, "ids_bounded",
      "doc_id >= 0 AND doc_id < 2000000")                            // v2
    assert(v2 == 2)
    assert(mfiles(table, 1) == mfiles(table, 2), "constraint moved data")
    assert(Snapshots.constraintsFor(table, 1).isEmpty,
      "constraints leaked into a pre-constraint version (not versioned)")

    // Violating APPEND refused, table unchanged; valid append lands.
    val bad = docs.select((col("doc_id") + 5000000L).as("doc_id"),
      col("n_chars"))
    intercept[IllegalArgumentException] { Snapshots.append(bad, table) }
    assert(Snapshots.latestVersion(table) == 2)
    Snapshots.append(docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("n_chars")),
      table)                                                          // v3

    // Violating MERGE refused (upserts checked; table unchanged)...
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, table, bad.limit(3), "doc_id")
    }
    assert(Snapshots.latestVersion(table) == 3)
    // ...but tombstones are exempt: removing rows is not data.
    Snapshots.merge(spark, table,
      docs.filter(col("doc_id") < 3)
        .select(col("doc_id"), col("n_chars"), lit(true).as("del")),
      "doc_id", deleteFlag = Some("del"))                             // v4
    assert(Snapshots.read(spark, table).filter(col("doc_id") < 3)
      .mcount() == 0)

    // Violating streaming batch refused loudly (a silent false would
    // mark the batch consumed and LOSE it); valid batch commits.
    intercept[IllegalArgumentException] {
      Snapshots.appendBatch(bad.limit(2), table, 7L)
    }
    assert(Snapshots.appendBatch(docs.filter(col("doc_id") === 9L), table, 7L))

    // NULL passes (SQL CHECK semantics) — pinned explicitly.
    import spark.implicits._
    Snapshots.addConstraint(spark, table, "chars_pos", "n_chars > 0")
    Snapshots.append(Seq((1500000L, Option.empty[Long]))
      .toDF("doc_id", "n_chars"), table)

    // DROP lifts the gate; unknown names are loud.
    intercept[IllegalArgumentException] {
      Snapshots.dropConstraint(spark, table, "nope")
    }
    Snapshots.dropConstraint(spark, table, "ids_bounded")
    Snapshots.append(bad.limit(2), table)
    assert(Snapshots.read(spark, table)
      .filter(col("doc_id") >= 5000000L).mcount() == 2)
  }

  test("TIMESTAMP AS OF resolves on manifest commit times") {
    import java.nio.file.attribute.FileTime
    val table = TestDirs.create("graft_snap_asof").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Snapshots.publish(docs.filter(col("doc_id") < 100), table)   // v1
    Snapshots.publish(docs.filter(col("doc_id") < 200), table)   // v2
    Snapshots.publish(docs.filter(col("doc_id") < 300), table)   // v3
    // Pin synthetic commit times (deterministic — no sleeps): the
    // resolver reads manifest mtimes, which is exactly Delta's
    // TIMESTAMP AS OF mechanics.
    for ((v, t) <- Seq(1 -> 1000L, 2 -> 2000L, 3 -> 3000L))
      Files.setLastModifiedTime(
        Paths.get(table, "_manifests", f"v$v%05d.json"),
        FileTime.fromMillis(t))

    assert(Snapshots.versionAsOf(table, 1000L) == 1) // inclusive bound
    assert(Snapshots.versionAsOf(table, 1999L) == 1)
    assert(Snapshots.versionAsOf(table, 2500L) == 2)
    assert(Snapshots.versionAsOf(table, 999999L) == 3)
    assert(ids(Snapshots.readAsOf(spark, table, 2500L)) ==
      ids(docs.filter(col("doc_id") < 200)))
    // Before the first commit: loud.
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(table, 999L)
    }
    // Vacuumed versions no longer qualify — a pre-retention timestamp
    // fails loudly instead of silently resolving to a wrong version.
    Snapshots.vacuum(table, retainLast = 1)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(table, 2500L)
    }
    assert(Snapshots.versionAsOf(table, 999999L) == 3)
  }

  test("vacuum expires schema metadata with its manifest") {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val table = TestDirs.create("graft_snap_evo3").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    Snapshots.publish(docs.filter(col("doc_id") < 50), table)   // v1
    Snapshots.addColumns(spark, table, StructField("q", DoubleType)) // v2
    Snapshots.publish(docs.filter(col("doc_id") < 20)
      .withColumn("q", lit(1.0)), table)                        // v3
    Snapshots.publish(docs.filter(col("doc_id") < 10)
      .withColumn("q", lit(2.0)), table)                        // v4
    Snapshots.vacuum(table, retainLast = 2)
    // Retained versions read under their schemas; expired fail loudly.
    assert(Snapshots.read(spark, table, Some(3)).mcount() == 20)
    assert(Snapshots.read(spark, table, Some(4)).mcount() == 10)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(2))
    }
    assert(Snapshots.tableSchema(table, 2).isEmpty,
      "expired version's schema metadata survived the vacuum")
    assert(Snapshots.tableSchema(table, 4).nonEmpty)
  }

  test("a legacy bare-array manifest parses as a files-only version; " +
      "unrecognized formats fail loudly, not with a parse stack") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars")).limit(10)
    // Stage one data file by hand, the way the pre-positional-format
    // revision laid tables out: bare JSON array of file names.
    val table = TestDirs.create("graft_legacy").toString
    Files.createDirectories(Paths.get(table, "data"))
    Files.createDirectories(Paths.get(table, "_manifests"))
    val tmp = TestDirs.create("graft_legacy_stage").toString
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val src = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    } finally listing.close()
    Files.copy(src, Paths.get(table, "data", "legacy.parquet"))
    Files.writeString(Paths.get(table, "_manifests", "v00001.json"),
      "[\"legacy.parquet\"]")

    assert(Snapshots.latestVersion(table) == 1)
    assert(Snapshots.read(spark, table).mcount() == 10,
      "legacy files-only manifest must stay readable")
    assert(Snapshots.lastBatchId(table) == -1L,
      "a legacy manifest carries no batch watermark")
    assert(Snapshots.rowCount(table).isEmpty,
      "legacy versions predate count tracking — unknown, never a guess")

    // A manifest in NO known format is an explicit incompatibility
    // error, not a NumberFormatException from a substring parse.
    Files.writeString(Paths.get(table, "_manifests", "v00002.json"),
      "format: something-else")
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, table)
    }
    assert(e.getMessage.contains("unrecognized manifest format"))
  }
}
