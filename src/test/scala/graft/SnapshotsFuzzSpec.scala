package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots

/** Randomized-schedule property test of the snapshot table's lifecycle
  * invariant: under ANY interleaving of publish/append/compact/vacuum/
  * DV-delete/optimize/restore (the single-writer op stream, seeded), no
  * retained version ever references a deleted data file — proven the
  * strong way, by re-READING every retained version after every vacuum
  * and matching it against an in-memory model (a dangling manifest
  * reference fails the parquet read; a wrong allow-list fails the
  * row-set compare), while expired versions must fail loudly, never
  * partially. Every retained version's metadata-only rowCount must also
  * match the model — a stale masked count or a lost footer count
  * surfaces here under schedules no hand-written test would compose.
  *
  * Seeding: 20 schedules per trial, windowed by SPARK_GRAFT_STRESS_SEED —
  * `tools/stress.sh` (default 5 trials) covers 100 distinct seeds.
  */
class SnapshotsFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val seedsPerTrial = 20

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def withPrimitive[T](p: graft.sources.CommitPrimitive)(f: => T): T = {
    val prev = Snapshots.commitPrimitive
    Snapshots.commitPrimitive = p
    try f finally Snapshots.commitPrimitive = prev
  }

  test("random publish/append/compact/vacuum schedules keep every " +
      "retained version readable and model-exact") {
    runSchedules(seedOffset = 0, nSeeds = seedsPerTrial)
  }

  test("random lifecycle schedules through the HTTP conditional-PUT " +
      "backend: every manifest commit (and the sidecars it references) " +
      "rides the object-store seam") {
    // Round-11 ran the RACE matrix on three backends but this lifecycle
    // fuzz only on link(2); a backend-specific visibility bug in the
    // conditional-PUT path (e.g. a manifest acknowledged before its
    // sidecar staging is readable) would have slipped it. Same model
    // audit, a disjoint seed window, every commit an actual HTTP round
    // trip against graft.S3StubServer — fewer seeds since each schedule
    // is identical in shape to the posix window's.
    withPrimitive(new graft.sources.ObjectStoreCommit(
        new graft.sources.HttpConditionalStore(graft.S3StubServer.endpoint))) {
      runSchedules(seedOffset = 100000, nSeeds = 6)
    }
  }

  private def runSchedules(seedOffset: Int, nSeeds: Int): Unit = {
    import spark.implicits._
    for (w <- 0 until nSeeds) {
      val seed = SparkTestBase.stressSeed * seedsPerTrial + seedOffset + w
      val rnd = new scala.util.Random(seed)
      val table = TestDirs.create(s"graft_snapfuzz_$seed").toString
      var nextId = 0L
      def batch(): (org.apache.spark.sql.DataFrame, Set[Long]) = {
        val n = 2 + rnd.nextInt(3)
        val idSet = (nextId until nextId + n).toSet
        nextId += n
        (idSet.toSeq.sorted.toDF("doc_id")
          .repartition(1 + rnd.nextInt(3)), idSet)
      }
      val model = mutable.Map.empty[Int, Set[Long]] // version -> expected
      var minRetained = 1
      val (df0, ids0) = batch()
      Snapshots.publish(df0, table)
      model(1) = ids0

      def auditRetained(): Unit = {
        val latest = Snapshots.latestVersion(table)
        for (v <- minRetained to latest) {
          assert(ids(Snapshots.read(spark, table, Some(v))) == model(v),
            s"seed=$seed: retained v$v no longer reads model-exact")
          assert(Snapshots.rowCount(table, Some(v)) ==
            Some(model(v).size.toLong),
            s"seed=$seed: retained v$v metadata rowCount drifted")
        }
        for (v <- 1 until minRetained)
          intercept[IllegalArgumentException] {
            Snapshots.read(spark, table, Some(v))
          }
      }

      for (step <- 0 until 10) {
        rnd.nextInt(7) match {
          case 0 =>
            val (df, s) = batch()
            val v = Snapshots.publish(df, table)
            model(v) = s
          case 1 =>
            val (df, s) = batch()
            val v = Snapshots.append(df, table)
            model(v) = model(v - 1) ++ s
          case 2 =>
            val v = Snapshots.compact(spark, table, 1 + rnd.nextInt(3),
              col("doc_id"))
            model(v) = model(v - 1)
          case 3 =>
            val retain = 1 + rnd.nextInt(3)
            val removed = Snapshots.vacuum(table, retainLast = retain)
            val latest = Snapshots.latestVersion(table)
            minRetained = math.max(minRetained, latest - retain + 1)
            // The allow-list law, directly: nothing a retained manifest
            // references may appear in the removed list...
            val live = (minRetained to latest).flatMap { v =>
              val m = java.nio.file.Paths.get(table, "_manifests",
                f"v$v%05d.json")
              "g[0-9a-f]{8}-part\\d{5}\\.parquet".r
                .findAllIn(Files.readString(m)).toSeq
            }.toSet
            assert(removed.toSet.intersect(live).isEmpty,
              s"seed=$seed step=$step: vacuum deleted live files")
            // ...and the strong form: every retained version re-reads.
            auditRetained()
          case 4 =>
            // Merge-on-read DV delete on a random residue class. An
            // empty match must ELIDE (no version), a non-empty one must
            // commit exactly the filtered model.
            val k = 2 + rnd.nextInt(3)
            val r = rnd.nextInt(k)
            val before = Snapshots.latestVersion(table)
            val v = Snapshots.deleteWhereDV(spark, table,
              col("doc_id") % k === r)
            val expect = model(before).filterNot(_ % k == r)
            if (expect == model(before))
              assert(v == before,
                s"seed=$seed step=$step: empty DV delete committed v$v")
            else model(v) = expect
          case 5 =>
            // Bin-packing optimize: content-invariant when it commits,
            // no version otherwise (<2 packable files).
            val before = Snapshots.latestVersion(table)
            val v = Snapshots.optimize(spark, table, 64L * 1024 * 1024)
            if (v > before) model(v) = model(before)
          case 6 =>
            // Restore to a random retained version.
            val latest = Snapshots.latestVersion(table)
            val t = minRetained + rnd.nextInt(latest - minRetained + 1)
            val v = Snapshots.restore(table, t)
            if (v > latest) model(v) = model(t)
          case _ =>
        }
      }
      auditRetained()
    }
  }
}
