package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** MULTI-WRITER optimistic concurrency: the commit point is an atomic
  * create-if-absent of the complete manifest record, so racing writers
  * get a total order of versions and a lost race is DETECTED, never a
  * lost update. Blind operations (publish/append/appendBatch) auto-retry
  * or rebase; read-modify-write operations surface
  * ConcurrentModificationException (serializable semantics). These tests
  * drive REAL racing threads through the public API — every assertion is
  * a serializability law, not a timing accident: they hold whichever
  * writer wins each race.
  */
class SnapshotsConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** Both production commit backends. The race matrix below runs through
    * EACH — the serializability laws are properties of the protocol
    * above [[graft.sources.CommitPrimitive]], so they must hold whether
    * the CAS is link(2) or an object store's conditional PUT.
    */
  private lazy val backends: Seq[(String, graft.sources.CommitPrimitive)] =
    Seq(
      "posix-link" -> graft.sources.PosixLinkCommit,
      "object-store" -> new graft.sources.ObjectStoreCommit(
        graft.sources.LocalConditionalStore),
      // The REAL protocol: HttpConditionalStore's `If-None-Match: *` PUT
      // against an in-sandbox HTTP server (graft.S3StubServer) — the race
      // arbitrated by another process-like boundary, 412 mapped to a
      // lost race, exactly what an S3/MinIO/GCS port ships.
      "s3-stub-http" -> new graft.sources.ObjectStoreCommit(
        new graft.sources.HttpConditionalStore(graft.S3StubServer.endpoint)))

  /** Register `body` once per commit backend, run under that backend. */
  private def raceTest(title: String)(body: => Unit): Unit =
    for ((tag, prim) <- backends)
      test(s"$title [$tag]") { withPrimitive(prim)(body) }

  /** Run `n` thunks on `n` threads released together; returns each
    * thunk's Try. */
  private def race[T](thunks: Seq[() => T]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val start = new CountDownLatch(1)
    try {
      val futures = thunks.map { f =>
        pool.submit(new java.util.concurrent.Callable[Try[T]] {
          def call(): Try[T] = { start.await(); Try(f()) }
        })
      }
      start.countDown()
      futures.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  raceTest("racing blind appends all commit; history is serializable") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc1").toString
    Snapshots.publish(Seq(0L).toDF("doc_id"), table)

    val nWriters = 6
    val batches: Seq[Set[Long]] = (0 until nWriters).map(w =>
      ((w * 100 + 1) to (w * 100 + 5)).map(_.toLong).toSet)
    val results = race(batches.map(b => () =>
      Snapshots.append(b.toSeq.sorted.toDF("doc_id"), table)))

    // Every append succeeded (blind adds compose; losers rebased).
    val versions = results.map {
      case Success(v) => v
      case Failure(e) => fail(s"blind append must never lose an update: $e")
    }
    assert(versions.toSet == (2 to nWriters + 1).toSet,
      s"appends did not serialize into a gapless version chain: $versions")
    // Final state is the union — no batch lost, none duplicated.
    assert(ids(Snapshots.read(spark, table)) ==
      batches.flatten.toSet + 0L)
    // SERIALIZABILITY: each version adds EXACTLY one whole batch to its
    // predecessor, whatever order the races resolved in.
    var prev = ids(Snapshots.read(spark, table, Some(1)))
    for (v <- 2 to nWriters + 1) {
      val cur = ids(Snapshots.read(spark, table, Some(v)))
      val delta = cur -- prev
      assert(batches.contains(delta),
        s"v$v's delta is not one writer's whole batch: $delta")
      assert(prev.subsetOf(cur), s"v$v dropped committed rows")
      prev = cur
    }
  }

  raceTest("racing publishes: every committed version is exactly one " +
      "writer's frame, never a mixture") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc2").toString
    val nWriters = 4
    val frames: Seq[Set[Long]] = (0 until nWriters).map(w =>
      ((w * 1000) to (w * 1000 + 9)).map(_.toLong).toSet)
    val results = race(frames.map(f => () =>
      Snapshots.publish(f.toSeq.sorted.toDF("doc_id"), table)))
    val versions = results.map(_.get) // blind overwrite: all succeed
    assert(versions.toSet == (1 to nWriters).toSet)
    for (v <- 1 to nWriters)
      assert(frames.contains(ids(Snapshots.read(spark, table, Some(v)))),
        s"v$v is not exactly one writer's frame (atomicity broken)")
    assert(frames.contains(ids(Snapshots.read(spark, table))))
  }

  raceTest("racing read-modify-write: a lost race is a loud conflict, and a " +
      "re-run against the new base succeeds") {
    import org.apache.spark.sql.types.{LongType, StructField}
    import spark.implicits._
    val table = TestDirs.create("graft_conc3").toString
    Snapshots.publish(Seq(1L, 2L, 3L).toDF("doc_id"), table)

    val fields = Seq(StructField("extra_a", LongType),
      StructField("extra_b", LongType))
    val results = race(fields.map(f => () =>
      Snapshots.addColumns(spark, table, f)))
    // Each writer either committed (its column is in the final schema)
    // or conflicted loudly — and a conflicted writer's RE-RUN lands.
    results.zip(fields).foreach {
      case (Success(_), _) =>
      case (Failure(_: java.util.ConcurrentModificationException), f) =>
        Snapshots.addColumns(spark, table, f)
      case (Failure(e), _) => fail(s"unexpected failure mode: $e")
    }
    val finalSchema = Snapshots.read(spark, table).schema.fieldNames.toSet
    assert(Set("extra_a", "extra_b").subsetOf(finalSchema),
      s"an acknowledged schema change was lost: $finalSchema")
  }

  raceTest("racing DV deletes: one commits, the loser conflicts loudly, and " +
      "its re-run lands on the new base") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc_dv").toString
    Snapshots.publish((1L to 100L).toDF("doc_id").repartition(4), table)

    import org.apache.spark.sql.functions.col
    val preds = Seq(col("doc_id") % 10 === 3, col("doc_id") % 10 === 7)
    val results = race(preds.map(p => () =>
      Snapshots.deleteWhereDV(spark, table, p)))
    results.zip(preds).foreach {
      case (Success(_), _) =>
      case (Failure(_: java.util.ConcurrentModificationException), p) =>
        Snapshots.deleteWhereDV(spark, table, p)
      case (Failure(e), _) => fail(s"unexpected failure mode: $e")
    }
    // Whatever the interleaving, both acknowledged deletes must hold.
    val kept = Snapshots.read(spark, table).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 100L).filterNot(d =>
      d % 10 == 3 || d % 10 == 7).toSet,
      s"an acknowledged DV delete was lost")
    assert(Snapshots.rowCount(table) == Some(kept.size.toLong))
  }

  test("seeded concurrent publish/append mixes serialize: every version " +
      "is one writer's whole operation") {
    import spark.implicits._
    // Property fuzz over RACING schedules (the single-writer lifecycle
    // fuzz lives in SnapshotsFuzzSpec): random mixes of blind ops race
    // from one latch, then the committed HISTORY must be explainable as
    // a serial order — each version is exactly one append's delta over
    // its predecessor or exactly one publish's frame, with every writer
    // appearing exactly once. Seed-windowed like the other fuzz suites
    // (tools/stress.sh varies SPARK_GRAFT_STRESS_SEED).
    for (w <- 0 until 3) {
      val seed = SparkTestBase.stressSeed * 100 + w
      val rnd = new scala.util.Random(seed)
      val table = TestDirs.create(s"graft_concfuzz_$seed").toString
      Snapshots.publish(Seq(-1L).toDF("doc_id"), table)            // v1
      val nWriters = 4
      val ops: Seq[(String, Set[Long])] = (0 until nWriters).map { i =>
        val n = 3 + rnd.nextInt(3)
        val idSet = ((i * 1000 + 1) to (i * 1000 + n)).map(_.toLong).toSet
        (if (rnd.nextBoolean()) "append" else "publish") -> idSet
      }
      val results = race(ops.map { case (kind, s) => () =>
        val df = s.toSeq.sorted.toDF("doc_id")
        if (kind == "append") Snapshots.append(df, table)
        else Snapshots.publish(df, table)
      })
      results.foreach(r => assert(r.isSuccess,
        s"seed=$seed: blind op failed: $r"))

      val latest = Snapshots.latestVersion(table)
      assert(latest == 1 + nWriters, s"seed=$seed: version gap")
      val appendSets = ops.filter(_._1 == "append").map(_._2)
      val publishSets = ops.filter(_._1 == "publish").map(_._2)
      var used = List.empty[Set[Long]]
      var prev = ids(Snapshots.read(spark, table, Some(1)))
      for (v <- 2 to latest) {
        val cur = ids(Snapshots.read(spark, table, Some(v)))
        val delta = cur -- prev
        val asAppend = prev.subsetOf(cur) && appendSets.contains(delta) &&
          !used.contains(delta)
        val asPublish = publishSets.contains(cur) && !used.contains(cur)
        assert(asAppend || asPublish,
          s"seed=$seed: v$v is not one writer's whole operation " +
            s"(cur=$cur, prev=$prev)")
        used ::= (if (asAppend) delta else cur)
        prev = cur
      }
      assert(used.size == nWriters, s"seed=$seed: a writer never landed")
    }
  }

  raceTest("racing appendBatch replays of the SAME batch: exactly one commits") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc4").toString
    Snapshots.appendBatch(Seq(0L).toDF("doc_id"), table, 0L)

    // Two replicas replay batch 1 concurrently (the speculative-retry /
    // zombie-driver scenario): the batchId watermark rides in the same
    // atomic create as the data, so exactly ONE commit happens and the
    // rows land exactly once.
    val batch = Seq(10L, 11L, 12L)
    val results = race(Seq.fill(2)(() =>
      Snapshots.appendBatch(batch.toDF("doc_id"), table, 1L)))
    val committed = results.map(_.get)
    assert(committed.count(identity) == 1,
      s"same-batch replay must commit exactly once, got $committed")
    val rows = Snapshots.read(spark, table)
      .groupBy(col("doc_id")).count()
      .filter(col("count") > 1).mcount()
    assert(rows == 0, "a replayed batch duplicated rows")
    assert(ids(Snapshots.read(spark, table)) == Set(0L, 10L, 11L, 12L))
    assert(Snapshots.lastBatchId(table) == 1L)
  }

  raceTest("racing mergeBatch replays of the SAME batch: exactly one commits, " +
      "upserts land once") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc5").toString
    Snapshots.appendBatch(
      Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars"), table, 0L)

    // Two replicas replay the same upsert batch (zombie driver): the
    // watermark hinge is identical to appendBatch's, but mergeBatch must
    // also RE-DERIVE on a lost race — and the re-derivation must then
    // see the winner's watermark and back off, not double-apply.
    val delta = Seq((1L, 11L), (3L, 30L)).toDF("doc_id", "n_chars")
    val results = race(Seq.fill(2)(() =>
      Snapshots.mergeBatch(spark, table, delta, "doc_id", 1L)))
    val committed = results.map(_.get)
    assert(committed.count(identity) == 1,
      s"same-batch merge replay must commit exactly once, got $committed")
    val got = Snapshots.read(spark, table)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
    assert(Snapshots.lastBatchId(table) == 1L)
  }

  test("http conditional PUT: keys containing '+', '%', space, and a " +
      "literal %2F land at the exact key and race correctly") {
    // Round-11 shipped form-encoding (space→'+') on the client and a
    // DOUBLE decode on the stub — symmetric, so tests passed while keys
    // with '+' silently remapped and keys with '%' 500'd against any
    // single-decode server (i.e. real S3). This pins the fixed wire
    // format: percent-encoding only, decoded exactly once. The literal
    // "%2F" in the key proves single decode — a second decode would turn
    // it into '/' and split the key.
    val store =
      new graft.sources.HttpConditionalStore(graft.S3StubServer.endpoint)
    val dir = TestDirs.create("graft_conc_keys")
    val key = dir.resolve("a +b%c d%2Fe.json").toString
    assert(store.putIfAbsent(key, "payload-1"),
      "first conditional PUT must win")
    assert(Files.readString(java.nio.file.Paths.get(key)) == "payload-1",
      "object must land at the EXACT key, not a remapped one")
    assert(!store.putIfAbsent(key, "payload-2"),
      "second conditional PUT on the same key must lose")
    assert(Files.readString(java.nio.file.Paths.get(key)) == "payload-1")
  }

  // ---- commit-primitive doubles: deterministic race loss on demand ----
  // The thread races above exercise REAL contention; these exercise the
  // seam itself — the CommitPrimitive abstraction an object-store port
  // implements — with losses injected exactly where wanted, including
  // the every-attempt exhaustion path no thread race can pin reliably.

  /** Refuses the first `lose` creates WITHOUT writing (the spurious-CAS
    * failure an object store can return when a timed-out conditional PUT
    * is retried after the competitor won), then delegates.
    */
  private final class LossyCommit(var lose: Int)
      extends graft.sources.CommitPrimitive {
    var refused = 0
    override def name: String = s"lossy(${lose})"
    override def createIfAbsent(target: java.nio.file.Path,
        content: String): Boolean =
      synchronized {
        if (lose > 0) { lose -= 1; refused += 1; false }
        else graft.sources.PosixLinkCommit.createIfAbsent(target, content)
      }
  }

  private def withPrimitive[T](p: graft.sources.CommitPrimitive)(f: => T): T = {
    val prev = Snapshots.commitPrimitive
    Snapshots.commitPrimitive = p
    try f finally Snapshots.commitPrimitive = prev
  }

  test("injected commit losses: blind appends retry through spurious CAS " +
      "failures; read-modify-write conflicts on the first loss") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc6").toString
    Snapshots.publish(Seq(0L, 1L, 2L).toDF("doc_id"), table)            // v1

    // A blind append retries: three refused attempts, then commits ONCE
    // (no duplicate rows, no skipped version — staged files are reused).
    val lossy = new LossyCommit(3)
    val v = withPrimitive(lossy) {
      Snapshots.append(Seq(10L).toDF("doc_id"), table)
    }
    assert(lossy.refused == 3 && v == 2)
    assert(ids(Snapshots.read(spark, table)) == Set(0L, 1L, 2L, 10L))

    // Read-modify-write takes NO retries at the seam: one refused create
    // is a serialization conflict, loud.
    intercept[java.util.ConcurrentModificationException] {
      withPrimitive(new LossyCommit(1)) {
        Snapshots.deleteWhere(spark, table, col("doc_id") === 0L)
      }
    }
    // The refused delete committed nothing — table unchanged.
    assert(ids(Snapshots.read(spark, table)) == Set(0L, 1L, 2L, 10L))
  }

  test("exhaustion: a commit primitive that loses EVERY race fails a " +
      "blind append loudly after bounded retries, leaving only orphans") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc7").toString
    Snapshots.publish(Seq(0L).toDF("doc_id"), table)                    // v1
    val e = intercept[IllegalStateException] {
      withPrimitive(new LossyCommit(Int.MaxValue)) {
        Snapshots.append(Seq(1L).toDF("doc_id"), table)
      }
    }
    assert(e.getMessage.contains("commit races"))
    // Nothing committed: still v1, the staged files are invisible
    // orphans (vacuum's concern, never a reader's).
    assert(Snapshots.latestVersion(table) == 1)
    assert(ids(Snapshots.read(spark, table)) == Set(0L))
  }

  test("a racer injected AT the commit point: the rebase path picks up " +
      "the racer's rows and both writers' data lands") {
    import spark.implicits._
    val table = TestDirs.create("graft_conc8").toString
    Snapshots.publish(Seq(0L).toDF("doc_id"), table)                    // v1

    // On the victim's FIRST create, commit a competing append through
    // the real primitive (so the target genuinely exists), then refuse.
    val racer = new graft.sources.CommitPrimitive {
      private var raced = false
      override def name: String = "racer-once"
      override def createIfAbsent(target: java.nio.file.Path,
          content: String): Boolean = synchronized {
        if (!raced) {
          raced = true
          withPrimitive(graft.sources.PosixLinkCommit) {
            Snapshots.append(Seq(100L).toDF("doc_id"), table)
          }
          false // the victim's attempt at this version is now stale
        } else graft.sources.PosixLinkCommit.createIfAbsent(target, content)
      }
    }
    val v = withPrimitive(racer) {
      Snapshots.append(Seq(200L).toDF("doc_id"), table)
    }
    assert(v == 3, s"victim must rebase onto the racer's v2, got v$v")
    assert(ids(Snapshots.read(spark, table)) == Set(0L, 100L, 200L),
      "rebase lost the racer's or the victim's rows")
  }
}
