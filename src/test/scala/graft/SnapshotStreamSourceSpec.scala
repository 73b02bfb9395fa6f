package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** The snapshot table as a Structured Streaming SOURCE: offsets are
  * committed version numbers, micro-batches serve the change feed, and
  * exactly-once falls out of the checkpointed offset log because
  * `changesBetween` is a pure function of immutable manifests (replay
  * re-derives identical rows). These tests drive the REAL streaming
  * machinery — readStream through MicroBatchExecution into a memory
  * sink — not the source class in isolation.
  */
class SnapshotStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("n_chars"))

  private def feedRows(name: String): Set[(Long, Long, String, Long)] =
    spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getLong(3))).toSet

  test("tailing delivers the bootstrap snapshot, then each commit's " +
      "exact change set") {
    val table = TestDirs.create("graft_tail1").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)

    val q = spark.readStream.format("graft-snapshot").load(table)
      .writeStream.format("memory").queryName("snap_tail1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val orig = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Bootstrap: v1's full content as inserts.
      assert(feedRows("snap_tail1") ==
        orig.map { case (d, n) => (d, n, "insert", 1L) }.toSet)

      // Two more commits while the stream runs: a delete and a merge.
      Snapshots.deleteWhere(spark, table, col("doc_id") < 50)          // v2
      Snapshots.merge(spark, table,
        docs.filter(col("doc_id").between(50, 54))
          .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars")),
        "doc_id")                                                      // v3
      q.processAllAvailable()

      val expect =
        orig.map { case (d, n) => (d, n, "insert", 1L) }.toSet ++
        orig.filter(_._1 < 50).map { case (d, n) =>
          (d, n, "delete", 2L) }.toSet ++
        orig.filter(k => k._1 >= 50 && k._1 <= 54).flatMap { case (d, n) =>
          Seq((d, n, "delete", 3L), (d, n + 1000L, "insert", 3L)) }.toSet
      assert(feedRows("snap_tail1") == expect)
    } finally q.stop()
  }

  test("a merge-on-read DV delete streams as its masked rows — the " +
      "source inherits deletion-vector attribution from the change feed") {
    val table = TestDirs.create("graft_tail_dv").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table)

    val q = spark.readStream.format("graft-snapshot").load(table)
      .writeStream.format("memory").queryName("snap_tail_dv")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // A DV delete moves no data files; the stream must still deliver
      // exactly the masked rows as deletes, attributed to its version.
      Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 3) // v2
      q.processAllAvailable()
      val orig = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect =
        orig.map { case (d, n) => (d, n, "insert", 1L) }.toSet ++
        orig.filter(_._1 % 10 == 3).map { case (d, n) =>
          (d, n, "delete", 2L) }.toSet
      assert(feedRows("snap_tail_dv") == expect)
    } finally q.stop()
  }

  test("exactly-once across restart: the checkpointed offset resumes, " +
      "nothing re-delivered, nothing lost") {
    val table = TestDirs.create("graft_tail2").toString
    val cp = TestDirs.create("graft_tail2_cp").toString
    val out = TestDirs.create("graft_tail2_out").toString
    Snapshots.publish(docs.filter(col("doc_id") < 100), table)         // v1

    // A RECOVERABLE sink (file), because recovery is the point here.
    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).mcount() == 100)

    // Commits land while the consumer is DOWN...
    Snapshots.append(docs.filter(col("doc_id") >= 100
      && col("doc_id") < 110), table)                                  // v2
    Snapshots.deleteWhere(spark, table, col("doc_id") === 5L)          // v3

    // ...and the restarted query (same checkpoint) delivers EXACTLY the
    // missed range: the final output holds every change ONCE — a
    // re-delivery would duplicate the v1 bootstrap, a gap would lose
    // v2/v3.
    run()
    val result = spark.read.parquet(out)
    assert(result.mcount() == 100 + 10 + 1)
    assert(result.groupBy(col("doc_id"), col("_change_type"),
      col("_commit_version")).count().filter(col("count") > 1)
      .mcount() == 0, "restart re-delivered already-committed offsets")
    assert(result.filter(col("_commit_version") === 2L).mcount() == 10)
    assert(result.filter(col("_commit_version") === 3L
      && col("_change_type") === "delete").mcount() == 1)
  }

  test("maxVersionsPerBatch paces catch-up into capped micro-batches, " +
      "and the pacing survives restart") {
    val table = TestDirs.create("graft_tail4").toString
    val cp = TestDirs.create("graft_tail4_cp").toString
    val out = TestDirs.create("graft_tail4_out").toString
    Snapshots.publish(docs.filter(col("doc_id") < 10), table)          // v1
    for (i <- 0 until 4)                                               // v2..v5
      Snapshots.append(docs.filter(col("doc_id") === (10L + i)), table)

    def offsetsLogged(): Int = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cp, "offsets"))
      try s.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
      finally s.close()
    }

    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("maxVersionsPerBatch", "2").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // 5 versions at cap 2 from startingVersion 0 → ends 2, 4, 5: three
    // micro-batches, never one unbounded catch-up — and the content is
    // the complete feed regardless of the pacing.
    assert(offsetsLogged() == 3,
      s"expected 3 capped batches, offset log has ${offsetsLogged()}")
    assert(spark.read.parquet(out).mcount() == 10 + 4)

    // Consumer down, 4 more commits land; the restart (same checkpoint)
    // paces the missed range too: 5→7, 9 adds two more offset entries.
    for (i <- 4 until 8)                                               // v6..v9
      Snapshots.append(docs.filter(col("doc_id") === (10L + i)), table)
    run()
    assert(offsetsLogged() == 5,
      s"restart catch-up not paced: offset log has ${offsetsLogged()}")
    val result = spark.read.parquet(out)
    assert(result.mcount() == 10 + 8)
    assert(result.groupBy(col("doc_id"), col("_commit_version")).count()
      .filter(col("count") > 1).mcount() == 0,
      "paced restart re-delivered or duplicated rows")
  }

  test("startingVersion=latest is PINNED at first start: a restart after " +
      "downtime delivers the versions that landed in between, never " +
      "re-resolving against the advanced table") {
    val table = TestDirs.create("graft_tail5").toString
    val cp = TestDirs.create("graft_tail5_cp").toString
    val out = TestDirs.create("graft_tail5_out").toString
    Snapshots.publish(docs.filter(col("doc_id") < 100), table)         // v1
    Snapshots.append(docs.filter(col("doc_id") === 100L), table)       // v2

    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("startingVersion", "latest").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // first start pins latest=2; no history delivered

    // Consumer DOWN; the table advances twice.
    Snapshots.append(docs.filter(col("doc_id") === 101L), table)       // v3
    Snapshots.append(docs.filter(col("doc_id") === 102L), table)       // v4

    // Restart re-runs createSource. Re-resolving `latest` here would be
    // 4 — silently skipping v3/v4 on the bootstrap replay. The pinned
    // value (2) delivers exactly the missed range.
    run()
    val result = spark.read.parquet(out)
    assert(result.mcount() == 2,
      s"pinned-latest restart lost or duplicated versions: ${result.mcount()}")
    assert(result.select(col("doc_id"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((101L, 3L), (102L, 4L)))
  }

  test("maxBytesPerBatch paces by what a version WEIGHS: a fat commit " +
      "and thin ones split into byte-bounded batches, exactly-once intact") {
    val table = TestDirs.create("graft_tail6").toString
    val cp = TestDirs.create("graft_tail6_cp").toString
    val out = TestDirs.create("graft_tail6_out").toString
    // v1 FAT (500 docs WITH text — real payload bytes), v2..v5 thin
    // single-row appends: the version-count cap would see 5 equal
    // versions; the byte cap sees one heavy commit and four light ones.
    val fat = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), col("text"))
    Snapshots.publish(fat.filter(col("doc_id") < 400), table)          // v1
    for (i <- 0 until 4)                                               // v2..v5
      Snapshots.append(fat.filter(col("doc_id") === (400L + i)), table)
    val fatBytes = Snapshots.versionAddedBytes(table, 1)
    val thinBytes = (2 to 5).map(Snapshots.versionAddedBytes(table, _))
    assert(thinBytes.forall(_ > 0) && fatBytes > thinBytes.sum,
      "probe precondition: v1 must outweigh all thin commits together")

    def offsetsLogged(): Int = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cp, "offsets"))
      try s.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
      finally s.close()
    }
    // Cap = fat/2: the over-cap v1 still flows (liveness — first version
    // is always admitted) but alone; the thin commits then pack together
    // under the cap. Expect exactly 2 batches: [1], [2..5].
    val q = spark.readStream.format("graft-snapshot")
      .option("maxBytesPerBatch", (fatBytes / 2).toString).load(table)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(offsetsLogged() == 2,
      s"byte pacing expected 2 batches ([fat],[4 thin]), got ${offsetsLogged()}")
    val result = spark.read.parquet(out)
    assert(result.mcount() == 400 + 4)
    assert(result.groupBy(col("doc_id"), col("_commit_version")).count()
      .filter(col("count") > 1).mcount() == 0,
      "byte-paced delivery duplicated rows")
  }

  test("startingVersion=latest tails only future commits") {
    val table = TestDirs.create("graft_tail3").toString
    Snapshots.publish(docs.filter(col("doc_id") < 200), table)         // v1
    Snapshots.deleteWhere(spark, table, col("doc_id") < 10)            // v2

    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "latest").load(table)
      .writeStream.format("memory").queryName("snap_tail3")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_tail3").mcount() == 0,
        "history leaked past startingVersion=latest")
      Snapshots.append(docs.filter(col("doc_id") === 300L), table)     // v3
      q.processAllAvailable()
      assert(feedRows("snap_tail3").map(r => (r._1, r._3, r._4)) ==
        Set((300L, "insert", 3L)))
    } finally q.stop()
  }
}
