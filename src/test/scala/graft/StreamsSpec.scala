package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionUpdate}

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("hourly streaming agg equals the batch aggregation on the same data") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0),
      Event(4, ts(70), 1, "click", 4.0))
    val input = MemoryStream[Event]
    val q = Streams.hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("update").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("hourly")
        .as[(Long, String, Long, Double)].collect().toSet
      val want = Streams.hourlyAgg(events.toDF())
        .as[(Long, String, Long, Double)].collect().toSet
      assert(got == want)
      assert(got.size == 3) // (h0,click), (h1,view), (h1,click)
    } finally q.stop()
  }

  test("sessionizer closes sessions across the gap and batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(spark, input.toDS(), gapSeconds = 600)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(5), 7, "view", 2.0))
      q.processAllAvailable()
      // batch 2: 30 min later -> previous session must close with 2 events
      input.addData(Event(3, ts(35), 7, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").as[SessionUpdate].collect()
      val closed = rows.filter(_.closed)
      assert(closed.length == 1)
      assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
      val open = rows.filter(r => !r.closed).maxBy(_.session_start.getTime)
      assert(open.n_events == 1 && open.total_value == 5.0)
    } finally q.stop()
  }

  test("sessionizer is provider-agnostic: RocksDB state store matches default") {
    // At 100 TB state outgrows the heap: RocksDB is the production state
    // store. The pipeline must behave identically under it (same state
    // encoding, same event-time eviction) — run the sessionizer scenario
    // above with the provider swapped and compare results.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = Streams.sessionize(spark, input.toDS(), gapSeconds = 600)
        .writeStream.format("memory").queryName("sessions_rocks")
        .outputMode("append").start()
      try {
        input.addData(Event(1, ts(0), 7, "click", 1.0),
          Event(2, ts(5), 7, "view", 2.0))
        q.processAllAvailable()
        input.addData(Event(3, ts(35), 7, "click", 5.0))
        q.processAllAvailable()
        // Same assertions as the default-provider scenario above.
        val rows = spark.table("sessions_rocks").as[SessionUpdate].collect()
        val closed = rows.filter(_.closed)
        assert(closed.length == 1)
        assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
        val open = rows.filter(r => !r.closed).maxBy(_.session_start.getTime)
        assert(open.n_events == 1 && open.total_value == 5.0)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("sessionizer state survives a query restart (checkpoint recovery)") {
    // The streaming face of E11/E12 fault tolerance: stop the query after
    // batch 1, restart from the same checkpoint, and the open session
    // (2 events of state) must be restored — the post-restart event then
    // closes it with the pre-restart accumulations intact.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = TestDirs.create("graft-ckpt").toString
    val input = MemoryStream[Event]
    // The memory sink refuses checkpoint recovery; foreachBatch supports it.
    val out = new java.util.concurrent.ConcurrentLinkedQueue[SessionUpdate]()
    def start() = Streams.sessionize(spark, input.toDS(), gapSeconds = 600)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionUpdate],
          _: Long) =>
        batch.collect().foreach(out.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(5), 7, "view", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(Event(3, ts(35), 7, "click", 5.0))
      q2.processAllAvailable()
      val rows = out.toArray(Array.empty[SessionUpdate])
      val closed = rows.filter(_.closed)
      assert(closed.exists(c => c.n_events == 2 && c.total_value == 3.0),
        s"restored state lost pre-restart events: ${rows.mkString(", ")}")
    } finally q2.stop()
  }

  test("streaming LSH dedup pairs arrivals with ALL prior bucket members") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, DupCandidate}
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textC = "completely different words about structured stream engines"
    val input = MemoryStream[DocEvent]
    val q = Streams.lshDedupCandidates(spark, input.toDS())
      .writeStream.format("memory").queryName("lsh_dedup")
      .outputMode("append").start()
    try {
      // Batch 1: doc 1, its exact dup doc 2, and an unrelated doc 3.
      input.addData(DocEvent(1, ts(0), textA), DocEvent(2, ts(1), textA),
        DocEvent(3, ts(2), textC))
      q.processAllAvailable()
      // Batch 2: another dup of doc 1 arrives later — state must remember
      // ALL batch-1 bucket members, so doc 4 pairs with both 1 and 2 (the
      // batch pipeline's in-bucket all-pairs contract).
      input.addData(DocEvent(4, ts(5), textA))
      q.processAllAvailable()
      val pairs = spark.table("lsh_dedup").as[DupCandidate]
        .collect().map(c => (c.doc_id, c.prior_doc_id)).toSet
      assert(pairs == Set((2L, 1L), (4L, 1L), (4L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming LSH dedup evicts idle buckets past the event-time TTL") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, DupCandidate}
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textC = "completely different words about structured stream engines"
    val input = MemoryStream[DocEvent]
    // TTL 1h of event time, watermark delay 1h.
    val q = Streams.lshDedupCandidates(spark, input.toDS(),
      bucketTtlSeconds = 3600, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("lsh_dedup_ttl")
      .outputMode("append").start()
    try {
      input.addData(DocEvent(1, ts(0), textA), DocEvent(2, ts(1), textA))
      q.processAllAvailable()
      // Advance event time far past TTL+delay (watermark applies from the
      // NEXT batch), then trigger the batch where the timeout fires.
      input.addData(DocEvent(3, ts(200), textC))
      q.processAllAvailable()
      input.addData(DocEvent(6, ts(210), textC))
      q.processAllAvailable()
      // textA's buckets expired (idle since minute 1, TTL 60): the late dup
      // re-seeds them instead of pairing with docs 1/2.
      input.addData(DocEvent(5, ts(215), textA))
      q.processAllAvailable()
      val pairs = spark.table("lsh_dedup_ttl").as[DupCandidate]
        .collect().map(c => (c.doc_id, c.prior_doc_id)).toSet
      // (6,3) is the legitimate in-TTL textC pair; the absence of any
      // (5, 1|2) pair proves the textA buckets were evicted.
      assert(pairs == Set((2L, 1L), (6L, 3L)),
        s"expired bucket leaked or eviction broke pairing: $pairs")
    } finally q.stop()
  }

  test("streaming LSH dedup state round-trips through RocksDB identically") {
    // The bucket state is a primitive Array[Long]; its encoder must
    // behave identically under the production RocksDB store (which
    // serializes per update) as under the default in-memory provider.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, DupCandidate}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val textA = "the quick brown fox jumps over the lazy dog tonight"
      val input = MemoryStream[DocEvent]
      val q = Streams.lshDedupCandidates(spark, input.toDS())
        .writeStream.format("memory").queryName("lsh_dedup_rocks")
        .outputMode("append").start()
      try {
        input.addData(DocEvent(1, ts(0), textA), DocEvent(2, ts(1), textA))
        q.processAllAvailable()
        // Batch 2 exercises state DESERIALIZATION from RocksDB.
        input.addData(DocEvent(4, ts(5), textA))
        q.processAllAvailable()
        val pairs = spark.table("lsh_dedup_rocks").as[DupCandidate]
          .collect().map(c => (c.doc_id, c.prior_doc_id)).toSet
        assert(pairs == Set((2L, 1L), (4L, 1L), (4L, 2L)), s"got $pairs")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream interval join equals the batch join on the same events") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 7, "click", 0.0),
      Event(2, ts(10), 7, "purchase", 9.99),   // within 30 min of click 1
      Event(3, ts(45), 7, "purchase", 5.00),   // outside click 1's window
      Event(4, ts(40), 7, "click", 0.0),       // catches purchase 3
      Event(5, ts(5), 8, "purchase", 1.00),    // other user: no click
      Event(6, ts(12), 9, "click", 0.0))       // no purchase
    val input = MemoryStream[Event]
    val q = Streams.attributedConversions(input.toDS())
      .writeStream.format("memory").queryName("conversions")
      .outputMode("append").start()
    try {
      input.addData(events.take(3): _*)
      q.processAllAvailable()
      input.addData(events.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("conversions")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      val want = Streams.attributedConversions(events.toDS())
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(got == want)
      assert(got.map(t => (t._2, t._3)) == Set((1L, 2L), (4L, 3L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched clicks after watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 7, "click", 0.0),
      Event(2, ts(10), 7, "purchase", 9.99),   // converts click 1
      Event(3, ts(12), 9, "click", 0.0),       // never converts
      Event(4, ts(5), 8, "purchase", 1.00))    // no click: never output
    // Far-future events on an unrelated user drive the watermark past
    // every click's join-state bound (click_ts + 30 min window + 1 h
    // delay), which is when the NULL rows become emittable. BOTH sides
    // need one: the global watermark is the MIN over the clicks and
    // purchases watermark nodes (multipleWatermarkPolicy=min), so a
    // future click alone leaves the purchases watermark — and therefore
    // the join's state watermark — pinned at the epoch.
    val flush = Seq(Event(99, ts(600), 1, "click", 0.0),
      Event(98, ts(600), 1, "purchase", 0.0))
    val input = MemoryStream[Event]
    val q = Streams.attributedConversionsOuter(input.toDS())
      .writeStream.format("memory").queryName("conversions_outer")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // The watermark computed from the flush event only takes effect at
      // the NEXT micro-batch, which is when unmatched rows evict+emit — so
      // the flush needs a successor batch (a second far-future event).
      input.addData(flush: _*)
      q.processAllAvailable()
      input.addData(flush.map(e => e.copy(event_id = e.event_id + 10,
        ts = ts(610))): _*)
      q.processAllAvailable()
      val got = spark.table("conversions_outer")
        .as[(Long, Long, Option[Long], Long, Option[Long], Option[Double])]
        .collect().toSet
      val want = Streams.attributedConversionsOuter((events ++ flush).toDS())
        .as[(Long, Long, Option[Long], Long, Option[Long], Option[Double])]
        .collect().toSet
      // The flush clicks pair with their own flush purchases (and the
      // second flush batch isn't in the batch input at all) — compare on
      // the fixture clicks only, then pin the expected shape.
      val fixture = (s: Set[(Long, Long, Option[Long], Long, Option[Long], Option[Double])]) =>
        s.filter(t => t._2 < 98L)
      assert(fixture(got) == fixture(want))
      assert(fixture(got).map(t => (t._2, t._3)) ==
        Set((1L, Some(2L)), (3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval joins are state-store-provider-agnostic") {
    // RocksDB parity for the symmetric hash-join state (the one stateful
    // operator family the provider sweeps above don't touch): both the
    // inner and the left-outer interval join replay their scenarios under
    // the production RocksDB store, and must match BOTH the default
    // provider's rows and the batch-truth join on the same events —
    // including the outer join's watermark-timed NULL emissions, which
    // exercise state eviction (not just lookup) through RocksDB.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def withProvider[T](rocks: Boolean)(body: => T): T = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    val innerEvents = Seq(
      Event(1, ts(0), 7, "click", 0.0),
      Event(2, ts(10), 7, "purchase", 9.99),
      Event(3, ts(45), 7, "purchase", 5.00),
      Event(4, ts(40), 7, "click", 0.0),
      Event(5, ts(5), 8, "purchase", 1.00),
      Event(6, ts(12), 9, "click", 0.0))
    def innerRun(tag: String): Set[(Long, Long, Long, Long, Long, Double)] = {
      val input = MemoryStream[Event]
      val q = Streams.attributedConversions(input.toDS())
        .writeStream.format("memory").queryName(s"conv_$tag")
        .outputMode("append").start()
      try {
        input.addData(innerEvents.take(3): _*)
        q.processAllAvailable()
        input.addData(innerEvents.drop(3): _*)
        q.processAllAvailable()
        spark.table(s"conv_$tag")
          .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      } finally q.stop()
    }
    val outerEvents = Seq(
      Event(1, ts(0), 7, "click", 0.0),
      Event(2, ts(10), 7, "purchase", 9.99),
      Event(3, ts(12), 9, "click", 0.0),
      Event(4, ts(5), 8, "purchase", 1.00))
    val flush = Seq(Event(99, ts(600), 1, "click", 0.0),
      Event(98, ts(600), 1, "purchase", 0.0))
    def outerRun(tag: String):
        Set[(Long, Long, Option[Long], Long, Option[Long], Option[Double])] = {
      val input = MemoryStream[Event]
      val q = Streams.attributedConversionsOuter(input.toDS())
        .writeStream.format("memory").queryName(s"convo_$tag")
        .outputMode("append").start()
      try {
        input.addData(outerEvents: _*)
        q.processAllAvailable()
        input.addData(flush: _*)
        q.processAllAvailable()
        input.addData(flush.map(e => e.copy(event_id = e.event_id + 10,
          ts = ts(610))): _*)
        q.processAllAvailable()
        spark.table(s"convo_$tag")
          .as[(Long, Long, Option[Long], Long, Option[Long], Option[Double])]
          .collect().toSet
          .filter(_._2 < 98L) // fixture clicks only (flush rows vary by batching)
      } finally q.stop()
    }
    val innerRocks = withProvider(true)(innerRun("r"))
    assert(innerRocks == withProvider(false)(innerRun("d")),
      "inner interval join diverges under RocksDB")
    val innerBatch = Streams.attributedConversions(innerEvents.toDS())
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(innerRocks == innerBatch,
      "inner interval join under RocksDB diverges from batch truth")
    val outerRocks = withProvider(true)(outerRun("r"))
    assert(outerRocks == withProvider(false)(outerRun("d")),
      "left-outer interval join diverges under RocksDB")
    val outerBatch = Streams.attributedConversionsOuter(
      (outerEvents ++ flush).toDS())
      .as[(Long, Long, Option[Long], Long, Option[Long], Option[Double])]
      .collect().toSet.filter(_._2 < 98L)
    assert(outerRocks == outerBatch,
      "left-outer interval join under RocksDB diverges from batch truth")
    assert(outerRocks.map(t => (t._2, t._3)) == Set((1L, Some(2L)), (3L, None)))
  }

  test("seeded arrival-order permutation: LSH candidates and upsert converge to batch truth") {
    // The streaming analog of DeterminismSpec's layout invariance: a
    // production feed delivers events in ANY order within the watermark,
    // split across micro-batches at arbitrary points. Each stress trial
    // (tools/stress.sh exports SPARK_GRAFT_STRESS_SEED) permutes the
    // arrival order AND the batch cut points with the trial seed — the
    // logged permutation makes a failing trial reproducible — and the
    // order-free invariants must hold: the LSH candidate stream's
    // UNORDERED pair set equals the all-pairs truth (orientation is
    // arrival-order by contract), and the upsert stream's final row per
    // doc is the (version, fp)-max regardless of how revisions interleave.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, DocVersion, DupCandidate}
    val seed = SparkTestBase.stressSeed
    val rnd = new scala.util.Random(0xC0FFEE + seed)
    def batchesOf[T](events: Seq[T]): Seq[Seq[T]] = {
      val perm = rnd.shuffle(events)
      val nBatches = 1 + rnd.nextInt(math.min(4, perm.length))
      val cuts = (Seq(0, perm.length) ++
        Seq.fill(nBatches - 1)(rnd.nextInt(perm.length + 1))).sorted
      cuts.sliding(2).map { case Seq(a, b) => perm.slice(a, b) }
        .filter(_.nonEmpty).toSeq
    }

    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textB = "structured streams maintain keyed state across micro batch boundaries"
    val textC = "completely different words about distributed analytics engines today"
    val docs = Seq(
      DocEvent(1, ts(0), textA), DocEvent(2, ts(1), textA),
      DocEvent(3, ts(2), textC), DocEvent(4, ts(3), textA),
      DocEvent(5, ts(4), textB), DocEvent(6, ts(5), textB))
    val docBatches = batchesOf(docs)
    info(s"LSH arrival permutation (seed=$seed): " +
      docBatches.map(_.map(_.doc_id).mkString("[", ",", "]")).mkString(" "))
    val lshIn = MemoryStream[DocEvent]
    val q1 = Streams.lshDedupCandidates(spark, lshIn.toDS())
      .writeStream.format("memory").queryName(s"lsh_perm_$seed")
      .outputMode("append").start()
    val gotPairs = try {
      docBatches.foreach { b => lshIn.addData(b: _*); q1.processAllAvailable() }
      spark.table(s"lsh_perm_$seed").as[DupCandidate].collect()
        .map(c => (math.min(c.doc_id, c.prior_doc_id),
          math.max(c.doc_id, c.prior_doc_id))).toSet
    } finally q1.stop()
    assert(gotPairs == Set((1L, 2L), (1L, 4L), (2L, 4L), (5L, 6L)),
      s"seed=$seed arrival order changed the unordered candidate set: $gotPairs")

    val revisions = Seq(
      DocVersion(1, 1, ts(0), "a"), DocVersion(1, 3, ts(1), "b"),
      DocVersion(1, 2, ts(2), "c"),
      DocVersion(2, 5, ts(3), "x"), DocVersion(2, 5, ts(4), "y"), // fp tie-break
      DocVersion(3, 7, ts(5), "only"))
    val revBatches = batchesOf(revisions)
    info(s"upsert arrival permutation (seed=$seed): " +
      revBatches.map(_.map(r => s"${r.doc_id}v${r.version}")
        .mkString("[", ",", "]")).mkString(" "))
    val upsIn = MemoryStream[DocVersion]
    val q2 = Streams.upsertStream(spark, upsIn.toDS())
      .writeStream.format("memory").queryName(s"ups_perm_$seed")
      .outputMode("append").start()
    val finalRows = try {
      revBatches.foreach { b => upsIn.addData(b: _*); q2.processAllAvailable() }
      spark.table(s"ups_perm_$seed").as[(Long, Long, String)].collect()
        .groupBy(_._1).map { case (d, rows) => d -> rows.maxBy(r => (r._2, r._3)) }
    } finally q2.stop()
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = revisions.groupBy(_.doc_id).map { case (d, rs) =>
      val best = rs.map(r => (r.version, md5Hex(r.text))).max
      d -> ((d, best._1, best._2))
    }
    assert(finalRows == want,
      s"seed=$seed arrival order changed the upsert fixpoint: $finalRows")
  }

  test("stream-verified dup pairs equal batch dedup_lsh_verified on the corpus") {
    // End-to-end parity of the full pipeline: replay the sf0.001 documents
    // table as a stream against itself as the doc store; the verified
    // (J >= 0.5) pair set must equal the batch dedup_lsh_verified result —
    // same candidates (identical band keys), same exact-Jaccard math.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams.{DocEvent, VerifiedDupPair}
    val dir = "/root/testdata/sf0.001"
    val docsDf = graft.queries.Tables.t(spark, dir, "documents")
    val events = docsDf.select(col("doc_id"), col("text")).collect()
      .map(r => DocEvent(r.getLong(0), ts(r.getLong(0).toInt % 30), r.getString(1)))
    val input = MemoryStream[DocEvent]
    val q = Streams.verifiedDupPairs(spark, input.toDS(), docsDf)
      .writeStream.format("memory").queryName("verified_dups")
      .outputMode("append").start()
    try {
      input.addData(events.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("verified_dups").as[VerifiedDupPair].collect()
        .map(p => (math.min(p.doc_id, p.prior_doc_id),
          math.max(p.doc_id, p.prior_doc_id), p.n_common, p.jaccard)).toSet
      val want = graft.queries.Dedup.lshVerified.run(spark, dir)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
        .as[(Long, Long, Long, Double)].collect()
        .map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3, t._4))
        .toSet
      assert(want.nonEmpty, "batch truth is empty — parity test is vacuous")
      assert(got == want,
        s"stream-batch divergence: stream-only=${got -- want}, " +
          s"batch-only=${want -- got}")
    } finally q.stop()
  }

  test("streaming corpus-clean census equals the batch funnel stages") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (doc_id, minute, text, lang, source): two exact-dup groups (dup in
    // the SAME source, canonical arrives in batch 1 — streaming
    // dropDuplicates keeps the first arrival where batch keeps min
    // doc_id, so ordering the replay makes them agree), one
    // quality-failing doc (3 tokens), one lang-mismatched doc.
    val en = "the cat of a house and the dog is here now then also"
    val en2 = "a bird of the sky and a fish is there when light falls"
    val rows = Seq(
      (0L, 0, en, "en", "s1"),
      (1L, 1, en2, "en", "s2"),
      (2L, 2, "too short here", "en", "s1"),       // quality fail
      (3L, 3, en + " extra tail words", "fr", "s2"), // lang mismatch
      (10L, 5, en, "en", "s1"),                    // dup of 0, same source
      (11L, 6, en2, "en", "s2"))                   // dup of 1, same source
    def df(xs: Seq[(Long, Int, String, String, String)]) =
      xs.toDF("doc_id", "minute", "text", "lang", "source")
        .select(col("doc_id"), expr("timestamp_millis(1700000000000 + minute * 60000)").as("ts"),
          col("text"), col("lang"), col("source"))
    val input = MemoryStream[(Long, Int, String, String, String)]
    val streamDocs = input.toDS()
      .toDF("doc_id", "minute", "text", "lang", "source")
      .select(col("doc_id"),
        expr("timestamp_millis(1700000000000 + minute * 60000)").as("ts"),
        col("text"), col("lang"), col("source"))
    val q = Streams.corpusCleanStream(streamDocs)
      .writeStream.format("memory").queryName("corpus_clean_stream")
      .outputMode("update").start()
    try {
      input.addData(rows.take(4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4): _*)
      q.processAllAvailable()
      // Update mode re-emits refreshed groups: keep the LAST row per key.
      val got = spark.table("corpus_clean_stream")
        .withColumn("rn", monotonically_increasing_id())
        .groupBy(col("source"), col("lang"))
        .agg(max_by(struct(col("n_docs"), col("total_tokens")), col("rn")).as("v"))
        .select(col("source"), col("lang"), col("v.n_docs"), col("v.total_tokens"))
        .as[(String, String, Long, Long)].collect().toSet
      val want = Streams.corpusCleanStream(df(rows))
        .as[(String, String, Long, Long)].collect().toSet
      assert(want.nonEmpty)
      assert(got == want, s"stream=$got batch=$want")
      // Pinned: dups collapsed, quality/lang failures dropped.
      assert(got.map(t => (t._1, t._2, t._3)) == Set(("s1", "en", 1L), ("s2", "en", 1L)))
    } finally q.stop()
  }

  test("streaming histogram sketch equals the batch bucket counts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Values spanning the range plus out-of-range outliers (clamped into
    // the edge buckets) — the streaming histogram contract.
    val events = Seq(
      Event(1, ts(0), 1, "click", 5.0),
      Event(2, ts(1), 1, "click", 37.5),
      Event(3, ts(2), 2, "view", 99.9),
      Event(4, ts(3), 2, "view", -3.0),   // below range -> bucket 0
      Event(5, ts(4), 3, "click", 250.0), // above range -> top bucket
      Event(6, ts(5), 3, "view", 37.5))
    val input = MemoryStream[Event]
    val q = Streams.histogramStream(input.toDF(), 0.0, 100.0, buckets = 16)
      .writeStream.format("memory").queryName("hist")
      .outputMode("update").start()
    try {
      input.addData(events.take(3): _*)
      q.processAllAvailable()
      input.addData(events.drop(3): _*)
      q.processAllAvailable()
      // Update mode re-emits refreshed buckets: keep the LAST row per key.
      val got = spark.table("hist")
        .withColumn("rn", monotonically_increasing_id())
        .groupBy(col("bucket"))
        .agg(max_by(col("c"), col("rn")).as("c"))
        .as[(Long, Long)].collect().toSet
      val want = Streams.histogramStream(events.toDF(), 0.0, 100.0, 16)
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"stream=$got batch=$want")
      // Pinned: 5.0->b0, 37.5 x2 -> b6, 99.9 -> b15, clamps -> b0/b15.
      assert(want == Set((0L, 2L), (6L, 2L), (15L, 2L)))
    } finally q.stop()
  }

  test("streaming upsert keeps the max version under out-of-order arrivals") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams.DocVersion
    val input = MemoryStream[DocVersion]
    val q = Streams.upsertStream(spark, input.toDS())
      .writeStream.format("memory").queryName("upsert_stream")
      .outputMode("append").start()
    try {
      input.addData(DocVersion(1, 1, ts(0), "alpha"),
        DocVersion(2, 1, ts(1), "beta"))
      q.processAllAvailable()
      // v3 lands before v2; the late v2 and the duplicate v3 replay must
      // both be absorbed silently.
      input.addData(DocVersion(1, 3, ts(5), "alpha prime"))
      q.processAllAvailable()
      input.addData(DocVersion(1, 2, ts(6), "alpha stale"),
        DocVersion(1, 3, ts(7), "alpha prime"))
      q.processAllAvailable()
      val got = spark.table("upsert_stream")
        .as[(Long, Long, String)].collect().toSet
      val want = Set(
        (1L, 1L, md5str("alpha")), (2L, 1L, md5str("beta")),
        (1L, 3L, md5str("alpha prime")))
      assert(got == want, s"got $got")
      // Current state per doc = the max-version row, exactly
      // pipeline_upsert's max_by semantics on the same revisions.
      val current = spark.table("upsert_stream")
        .groupBy(col("doc_id"))
        .agg(max_by(struct(col("version"), col("fp")), col("version")).as("v"))
        .select(col("doc_id"), col("v.version"), col("v.fp"))
        .as[(Long, Long, String)].collect().toSet
      assert(current == Set((1L, 3L, md5str("alpha prime")),
        (2L, 1L, md5str("beta"))))
    } finally q.stop()
  }

  private def md5str(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("sessionizer absorbs a late in-window event without splitting the session") {
    // Regression: a late arrival (within the watermark, before the open
    // session's lastTs) must not REGRESS the session clock — the old fold
    // set lastTs := t unconditionally, so the next on-time event measured
    // its gap from the stale late ts and falsely split the session. The
    // batch mirror sorts all events by ts before gap-splitting; minutes
    // 95, 100, 126 with a 30-min gap are ONE session of 3 starting at 95.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(spark, input.toDS(),
        gapSeconds = 1800, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(100), 7, "click", 1.0))
      q.processAllAvailable() // watermark: minute 90
      input.addData(Event(2, ts(95), 7, "view", 2.0)) // late but in-window
      q.processAllAvailable()
      input.addData(Event(3, ts(126), 7, "click", 4.0)) // 26 min after 100
      q.processAllAvailable()
      val rows = spark.table("sessions_late").as[SessionUpdate].collect()
      assert(!rows.exists(_.closed),
        s"late event split the session: ${rows.filter(_.closed).toSeq}")
      val open = rows.filter(!_.closed).maxBy(_.n_events)
      assert(open.n_events == 3 && open.total_value == 7.0 &&
        open.session_start == ts(95),
        s"open session should be (start=${ts(95)}, n=3, total=7.0), got $open")
    } finally q.stop()
  }

  test("sessionizer emits a pre-session straggler as its own closed session") {
    // A straggler more than a gap OLDER than the open session's start
    // (reachable when this user's events run ahead of the global
    // watermark) belongs to a separate, earlier session. The old fold
    // merged it into the open session (regressing lastTs and inflating
    // n); now it closes immediately as its own session. (Append-mode
    // limitation, documented: it cannot retro-merge into a session that
    // already CLOSED before it arrived.)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(spark, input.toDS(),
        gapSeconds = 1800, watermarkDelay = "300 minutes")
      .writeStream.format("memory").queryName("sessions_straggler")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(200), 7, "click", 1.0))
      q.processAllAvailable() // watermark: minute -100 -> nothing dropped
      input.addData(Event(2, ts(100), 7, "view", 2.0)) // 100 min before
      q.processAllAvailable()
      val rows = spark.table("sessions_straggler").as[SessionUpdate].collect()
      val closed = rows.filter(_.closed)
      assert(closed.map(s => (s.session_start, s.n_events, s.total_value)).toSeq
        == Seq((ts(100), 1L, 2.0)), s"straggler session wrong: ${closed.toSeq}")
      val open = rows.filter(!_.closed).last
      assert(open.session_start == ts(200) && open.n_events == 1,
        s"open session corrupted by the straggler: $open")
    } finally q.stop()
  }

  test("upsert, histogram, and corpus-clean dedup are state-store-provider-agnostic") {
    // RocksDB parity for the stateful operators the sessionizer/LSH tests
    // don't cover: same batches, same emitted rows under the production
    // (off-heap) store as under the default HDFS-backed one.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams.DocVersion
    def withProvider[T](rocks: Boolean)(body: => T): T = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    def upsertRun(tag: String): Set[(Long, Long, String)] = {
      val input = MemoryStream[DocVersion]
      val q = Streams.upsertStream(spark, input.toDS())
        .writeStream.format("memory").queryName(s"ups_$tag")
        .outputMode("append").start()
      try {
        input.addData(DocVersion(1, 1, ts(0), "a"), DocVersion(2, 5, ts(1), "b"))
        q.processAllAvailable()
        input.addData(DocVersion(1, 2, ts(2), "c"), DocVersion(2, 4, ts(3), "stale"))
        q.processAllAvailable()
        spark.table(s"ups_$tag").as[(Long, Long, String)].collect().toSet
      } finally q.stop()
    }
    def histRun(tag: String): Set[(Long, Long)] = {
      val input = MemoryStream[Event]
      val q = Streams.histogramStream(input.toDF(), 0.0, 100.0, buckets = 16)
        .writeStream.format("memory").queryName(s"hist_$tag")
        .outputMode("update").start()
      try {
        input.addData(Event(1, ts(0), 1, "click", 5.0), Event(2, ts(1), 1, "click", 37.5))
        q.processAllAvailable()
        input.addData(Event(3, ts(2), 2, "view", 99.9), Event(4, ts(3), 2, "view", -3.0))
        q.processAllAvailable()
        spark.table(s"hist_$tag")
          .withColumn("rn", monotonically_increasing_id())
          .groupBy(col("bucket"))
          .agg(max_by(col("c"), col("rn")).as("c"))
          .as[(Long, Long)].collect().toSet
      } finally q.stop()
    }
    def cleanRun(tag: String): Set[(String, String, Long, Long)] = {
      val input = MemoryStream[(Long, Int, String, String, String)]
      val docs = input.toDS().toDF("doc_id", "minute", "text", "lang", "source")
        .select(col("doc_id"),
          expr("timestamp_millis(1700000000000 + minute * 60000)").as("ts"),
          col("text"), col("lang"), col("source"))
      val q = Streams.corpusCleanStream(docs)
        .writeStream.format("memory").queryName(s"cc_$tag")
        .outputMode("update").start()
      try {
        val en = "the cat of a house and the dog is here now then also"
        input.addData((0L, 0, en, "en", "s1"), (1L, 1, en + " more", "en", "s1"))
        q.processAllAvailable()
        input.addData((2L, 2, en, "en", "s1")) // exact dup, dropped by state
        q.processAllAvailable()
        spark.table(s"cc_$tag")
          .withColumn("rn", monotonically_increasing_id())
          .groupBy(col("source"), col("lang"))
          .agg(max_by(struct(col("n_docs"), col("total_tokens")), col("rn")).as("v"))
          .select(col("source"), col("lang"), col("v.n_docs"), col("v.total_tokens"))
          .as[(String, String, Long, Long)].collect().toSet
      } finally q.stop()
    }
    assert(withProvider(false)(upsertRun("d")) == withProvider(true)(upsertRun("r")),
      "upsertStream diverges under RocksDB")
    assert(withProvider(false)(histRun("d")) == withProvider(true)(histRun("r")),
      "histogramStream diverges under RocksDB")
    assert(withProvider(false)(cleanRun("d")) == withProvider(true)(cleanRun("r")),
      "corpusCleanStream diverges under RocksDB")
  }

  test("streaming upsert emits the same final row regardless of equal-version arrival order") {
    // Regression: with two same-version revisions split ACROSS batches,
    // the old state guard (version-only compare) kept whichever arrived
    // first — the final sink row depended on arrival order. The
    // lexicographic (version, fp) rule must pick the same winner both
    // ways.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams.DocVersion
    val (loTxt, hiTxt) =
      if (md5str("rev ex") < md5str("rev why")) ("rev ex", "rev why")
      else ("rev why", "rev ex")
    def finalRow(first: String, second: String): (Long, String) = {
      val input = MemoryStream[DocVersion]
      val q = Streams.upsertStream(spark, input.toDS())
        .writeStream.format("memory").queryName("upsert_order")
        .outputMode("append").start()
      try {
        input.addData(DocVersion(7, 2, ts(0), first))
        q.processAllAvailable()
        input.addData(DocVersion(7, 2, ts(1), second))
        q.processAllAvailable()
        val rows = spark.table("upsert_order")
          .withColumn("rn", monotonically_increasing_id())
          .orderBy(col("rn")).select(col("version"), col("fp"))
          .as[(Long, String)].collect()
        rows.last
      } finally {
        q.stop()
        spark.catalog.dropTempView("upsert_order")
      }
    }
    val a = finalRow(loTxt, hiTxt)
    val b = finalRow(hiTxt, loTxt)
    assert(a == b, s"arrival order changed the final row: $a vs $b")
    assert(a == ((2L, md5str(hiTxt))), s"winner should be the max fp, got $a")
  }

  test("streaming CDC dedup pairs later docs against each chunk's owner") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams.{ChunkDup, DocEvent}
    // Long repetitive-free texts so CDC (window=8, maskBits=5, ~32-char
    // expected chunks) yields several chunks each. Doc 2 repeats doc 1
    // exactly; doc 5 (batch 2) edits doc 1's PREFIX, so CDC re-syncs and
    // the suffix chunks still collide; doc 3 is disjoint.
    val textA = ("the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles stand on the wall near the old mill by " +
      "the river and nobody expected the spanish inquisition that day") * 2
    val textB = "completely different content about spark catalyst " +
      "optimizer rules and tungsten codegen stages running on executors " +
      "with shuffle partitions and broadcast variables everywhere always"
    val textA2 = "EDITED PREFIX INSERTED HERE " + textA
    val batches = Seq(
      Seq(DocEvent(1, ts(0), textA), DocEvent(2, ts(1), textA),
        DocEvent(3, ts(2), textB)),
      Seq(DocEvent(5, ts(5), textA2)))
    // Batch-derived truth: fps per doc from the SAME shared projection,
    // owners assigned in arrival order (batch index, then doc_id).
    val fps = graft.queries.CorpusOps
      .cdcFpArray(batches.flatten.toDS().toDF(), "doc_id")
      .as[(Long, Seq[String])].collect().toMap
    val owner = scala.collection.mutable.Map[String, Long]()
    val want = scala.collection.mutable.Set[(Long, String, Long)]()
    batches.foreach(_.sortBy(_.doc_id).foreach { d =>
      fps(d.doc_id).foreach { fp =>
        owner.get(fp) match {
          case Some(o) => if (o != d.doc_id) want += ((d.doc_id, fp, o))
          case None => owner(fp) = d.doc_id
        }
      }
    })
    val input = MemoryStream[DocEvent]
    val q = Streams.cdcDedupStream(spark, input.toDS())
      .writeStream.format("memory").queryName("cdc_dedup")
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("cdc_dedup").as[ChunkDup]
        .collect().map(c => (c.doc_id, c.chunk_fp, c.owner_doc_id)).toSet
      assert(got == want.toSet,
        s"stream-only=${got -- want}, truth-only=${want.toSet -- got}")
      // The scenario is non-degenerate: the exact copy collides on ALL of
      // doc 1's chunks, the prefix-edited doc on SOME (CDC re-sync), the
      // disjoint doc on none.
      assert(got.count(_._1 == 2L) == fps(1L).size)
      val editedHits = got.count(_._1 == 5L)
      assert(editedHits > 0 && fps(5L).size > editedHits)
      assert(!got.exists(_._1 == 3L))
    } finally q.stop()
  }

  test("streaming CDC dedup ownership survives a query restart (checkpoint recovery)") {
    // Owner state must restore from the checkpoint: doc 1 seeds ownership
    // in batch 1, the query restarts, and doc 2's exact copy in batch 2
    // must pair against the PRE-restart owner — not silently re-seed.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{ChunkDup, DocEvent}
    val textA = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles stand on the wall near the old mill"
    val ckpt = TestDirs.create("graft-cdc-ckpt").toString
    val input = MemoryStream[DocEvent]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[ChunkDup]()
    def start() = Streams.cdcDedupStream(spark, input.toDS())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ChunkDup],
          _: Long) =>
        batch.collect().foreach(out.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(DocEvent(1, ts(0), textA))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(DocEvent(2, ts(5), textA))
      q2.processAllAvailable()
      val pairs = out.toArray(Array.empty[ChunkDup])
      assert(pairs.nonEmpty && pairs.forall(c =>
        c.doc_id == 2L && c.owner_doc_id == 1L),
        s"restored owner state wrong: ${pairs.mkString(", ")}")
    } finally q2.stop()
  }

  test("streaming CDC dedup evicts idle chunk owners past the event-time TTL") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{ChunkDup, DocEvent}
    val textA = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles stand on the wall near the old mill"
    val textC = "unrelated watermark driver content with many plain words " +
      "that move event time forward without colliding with anything else"
    val input = MemoryStream[DocEvent]
    val q = Streams.cdcDedupStream(spark, input.toDS())
      .writeStream.format("memory").queryName("cdc_dedup_ttl")
      .outputMode("append").start()
    try {
      input.addData(DocEvent(1, ts(0), textA))
      q.processAllAvailable()
      // Advance the watermark past t0 + TTL (3600 s) + delay (1 h):
      // ts(200) - 1 h watermark = minute 140 > minute 60 TTL bound.
      input.addData(DocEvent(3, ts(200), textC))
      q.processAllAvailable()
      input.addData(DocEvent(6, ts(210), textC))
      q.processAllAvailable()
      // Doc 1's chunk owners were evicted: the re-arrival re-seeds
      // ownership silently instead of pairing.
      input.addData(DocEvent(5, ts(215), textA))
      q.processAllAvailable()
      val got = spark.table("cdc_dedup_ttl").as[ChunkDup].collect()
      assert(!got.exists(c => c.doc_id == 5L),
        s"expected eviction, got pairs ${got.toSeq}")
      // The TTL path is live, not vacuous: the textC re-arrival inside
      // the window DOES pair against its owner.
      assert(got.exists(c => c.doc_id == 6L && c.owner_doc_id == 3L))
    } finally q.stop()
  }

  test("streaming phash dedup equals the batch mm_phash census on the corpus") {
    // End-to-end parity of the image near-dup stream: replay the sf0.001
    // documents through phashDedupStream in one micro-batch (within-batch
    // ownership = lowest doc_id, so batch truth is derivable exactly from
    // the declared mm_phash census: every cohort member except its min
    // flags against the min), then a cross-batch near-dup to prove state
    // deserialization — run under BOTH state-store providers.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, PhashDup}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val census = SparkEntry.queries("mm_phash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cohorts = census.groupBy(_._2).view.mapValues(_.map(_._1).sorted)
    val want = cohorts.flatMap { case (ph, ids) =>
      ids.drop(1).map(d => PhashDup(d, ph, ids.head))
    }.toSet
    def run(rocks: Boolean): (Set[PhashDup], Set[PhashDup]) = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[DocEvent]
        val tag = if (rocks) "r" else "d"
        val q = Streams.phashDedupStream(spark, input.toDS())
          .writeStream.format("memory").queryName(s"phash_dedup_$tag")
          .outputMode("append").start()
        try {
          input.addData(docs.map { case (id, t) => DocEvent(id, ts(0), t) }: _*)
          q.processAllAvailable()
          val batch1 = spark.table(s"phash_dedup_$tag").as[PhashDup]
            .collect().toSet
          // Batch 2: re-send an existing doc's text under a new id — it
          // must flag against that text's cohort owner from batch-1 STATE.
          input.addData(DocEvent(999999L, ts(5), docs.head._2))
          q.processAllAvailable()
          val all = spark.table(s"phash_dedup_$tag").as[PhashDup]
            .collect().toSet
          (batch1, all -- batch1)
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val (b1, b2) = run(rocks = false)
    assert(b1 == want, s"stream dups != batch census truth " +
      s"(missing ${(want -- b1).take(3)}, extra ${(b1 -- want).take(3)})")
    val firstHash = census.toMap.apply(docs.head._1)
    val expectedOwner = cohorts(firstHash).head
    assert(b2 == Set(PhashDup(999999L, firstHash, expectedOwner)),
      s"cross-batch ownership broke: $b2")
    val (r1, r2) = run(rocks = true)
    assert(r1 == b1 && r2 == b2, "phashDedupStream diverges under RocksDB")
  }

  test("streaming video phash dedup equals the batch mm_video_phash census") {
    // Frame-granular parity: replay sf0.001 documents through
    // videoPhashDedupStream in one micro-batch (within-batch ownership =
    // lowest (doc_id, frame_idx), so batch truth derives exactly from the
    // declared mm_video_phash census: every cohort member except its min
    // flags against the min), then a cross-batch re-send proving frame
    // ownership survives in state — under BOTH state-store providers.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{DocEvent, VideoFrameDup}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val census = SparkEntry.queries("mm_video_phash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cohorts = census.groupBy(_._3).view
      .mapValues(_.map(c => (c._1, c._2)).sorted)
    val want = cohorts.flatMap { case (fh, frames) =>
      frames.drop(1).map { case (d, fi) =>
        VideoFrameDup(d, fi, fh, frames.head._1, frames.head._2)
      }
    }.toSet
    def run(rocks: Boolean): (Set[VideoFrameDup], Set[VideoFrameDup]) = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[DocEvent]
        val tag = if (rocks) "r" else "d"
        val q = Streams.videoPhashDedupStream(spark, input.toDS())
          .writeStream.format("memory").queryName(s"vphash_dedup_$tag")
          .outputMode("append").start()
        try {
          input.addData(docs.map { case (id, t) => DocEvent(id, ts(0), t) }: _*)
          q.processAllAvailable()
          val batch1 = spark.table(s"vphash_dedup_$tag").as[VideoFrameDup]
            .collect().toSet
          // Batch 2: an existing doc's payload under a new id — every one
          // of its sampled frames must flag against that frame cohort's
          // batch-1 owner, out of deserialized state.
          input.addData(DocEvent(999999L, ts(5), docs.head._2))
          q.processAllAvailable()
          val all = spark.table(s"vphash_dedup_$tag").as[VideoFrameDup]
            .collect().toSet
          (batch1, all -- batch1)
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val (b1, b2) = run(rocks = false)
    assert(b1 == want, s"stream frame dups != batch census truth " +
      s"(missing ${(want -- b1).take(3)}, extra ${(b1 -- want).take(3)})")
    val firstFrames = census.filter(_._1 == docs.head._1)
    val wantB2 = firstFrames.map { case (_, fi, fh) =>
      val owner = cohorts(fh).head
      VideoFrameDup(999999L, fi, fh, owner._1, owner._2)
    }.toSet
    assert(b2 == wantB2, s"cross-batch frame ownership broke: $b2")
    val (r1, r2) = run(rocks = true)
    assert(r1 == b1 && r2 == b2,
      "videoPhashDedupStream diverges under RocksDB")
  }

  test("streaming exact dedup: watermarked dropDuplicates keeps first per key") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (doc_id, fingerprint, event time): fp "a" arrives 3x across batches.
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = input.toDF().toDF("doc_id", "fp", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("fp")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, "a", ts(0)), (2L, "a", ts(1)), (3L, "b", ts(2)))
      q.processAllAvailable()
      input.addData((4L, "a", ts(3)), (5L, "c", ts(4)))
      q.processAllAvailable()
      val rows = spark.table("dedup")
        .select(col("doc_id"), col("fp")).as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "a"), (3L, "b"), (5L, "c")))
    } finally q.stop()
  }

  test("streaming corpus-clean dedup state is evicted by the watermark") {
    // The claim behind dropDuplicatesWithinWatermark (plain dropDuplicates
    // on a non-event-time key NEVER evicts — state grows with every
    // distinct fingerprint forever): once the watermark passes a
    // fingerprint's expiry, its state row is dropped. 50 distinct docs,
    // then a doc 10 hours later to advance the watermark, then one more
    // batch so eviction (applied against the PREVIOUS batch's watermark)
    // runs: the dedup operator's live state must shrink to the handful of
    // in-window fingerprints, not the full history.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Int, String, String, String)]
    val streamDocs = input.toDS()
      .toDF("doc_id", "minute", "text", "lang", "source")
      .select(col("doc_id"),
        expr("timestamp_millis(1700000000000 + minute * 60000)").as("ts"),
        col("text"), col("lang"), col("source"))
    val q = Streams.corpusCleanStream(streamDocs)
      .writeStream.format("memory").queryName("corpus_clean_evict")
      .outputMode("update").start()
    try {
      input.addData((0 until 50).map(i =>
        (i.toLong, i % 3, s"distinct document number $i body", "en", "s1")): _*)
      q.processAllAvailable()
      val dedupOp = () => q.lastProgress.stateOperators
        .find(_.operatorName.toLowerCase.contains("dedupe"))
        .getOrElse(fail("no dedupe state operator in progress"))
      assert(dedupOp().numRowsTotal == 50L,
        s"expected 50 fingerprints in state, got ${dedupOp().numRowsTotal}")
      input.addData((100L, 600, "late doc advancing the watermark", "en", "s1"))
      q.processAllAvailable()
      input.addData((101L, 601, "one more to trigger eviction", "en", "s1"))
      q.processAllAvailable()
      val live = dedupOp().numRowsTotal
      assert(live <= 2L,
        s"watermark passed the first 50 fingerprints but $live state rows remain")
    } finally q.stop()
  }

  test("streaming bottom-k sample reconstructs the batch exact-k sample " +
      "under split, permuted, and duplicated arrivals") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    // (source, doc_id) for all 500 docs — big enough that admission/
    // eviction actually happens (25 docs/stratum vs k=5).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = graft.queries.TextOps.sampleExactK.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    def runArrival(name: String, batches: Seq[Seq[(Long, String)]]): Set[(String, Long, Long)] = {
      val input = MemoryStream[Streams.StratumDoc]
      val q = Streams.bottomKSampleStream(spark, input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          input.addData(b.zipWithIndex.map { case ((id, src), i) =>
            Streams.StratumDoc(id, ts(i % 7), src)
          }: _*)
          q.processAllAvailable()
        }
        // Reconstruct the final sample from the admission log: bottom-k
        // per source by (h, doc_id), re-ranked — the consumer contract.
        spark.table(name)
          .as[(String, Long, String)].collect().toSeq
          .groupBy(_._1)
          .flatMap { case (src, admits) =>
            admits.map(a => (a._3, a._2)).distinct.sorted.take(5)
              .zipWithIndex.map { case ((_, id), i) => (src, id, i + 1L) }
          }.toSet
      } finally q.stop()
    }

    // In-order split into 3 micro-batches.
    val inOrder = runArrival("bk_inorder", docs.grouped(180).toSeq)
    assert(inOrder == want, "in-order arrival diverges from batch sample")
    // Reversed arrival, different split.
    val reversed = runArrival("bk_reversed", docs.reverse.grouped(77).toSeq)
    assert(reversed == want, "permuted arrival diverges from batch sample")
    // Duplicate delivery: every batch re-sent once.
    val dups = runArrival("bk_dups",
      docs.grouped(180).toSeq.flatMap(b => Seq(b, b)))
    assert(dups == want, "duplicate delivery changed the sample")
  }

  test("streaming packer assigns the batch layout under splits, " +
      "within-batch shuffles, and whole-batch replays") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    // Reference layout: per-source cumsum in doc_id order, L=512.
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      var off = 0L
      ds.sortBy(_._1).map { case (id, _, text) =>
        val slot = (src, id, off / 512, off % 512)
        off += text.split(" ").count(_.nonEmpty)
        slot
      }
    }.toSet

    def run(name: String, batches: Seq[Seq[(Long, String, String)]]): Set[(String, Long, Long, Long)] = {
      val input = MemoryStream[Streams.ShardDoc]
      val q = Streams.packSequencesStream(spark, input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          input.addData(b.map { case (id, src, text) =>
            Streams.ShardDoc(id, ts(0), src, text)
          }: _*)
          q.processAllAvailable()
        }
        spark.table(name).as[(String, Long, Long, Long)].collect().toSet
      } finally q.stop()
    }

    // In-order split; within each batch the rows are shuffled (the
    // per-batch doc_id sort absorbs iterator order).
    val rnd = new scala.util.Random(7)
    val got = run("pack_inorder",
      docs.grouped(120).map(b => rnd.shuffle(b)).toSeq)
    assert(got == want, "streamed layout diverges from the batch layout")
    // Whole-batch replay: each batch delivered twice — the monotone
    // doc_id guard must drop the replay without double-counting offsets.
    val replayed = run("pack_replay",
      docs.grouped(120).toSeq.flatMap(b => Seq(b, b)))
    assert(replayed == want, "batch replay corrupted the packing offsets")
  }
}
