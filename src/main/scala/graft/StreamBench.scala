package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.state.{RsmKvLogRow, RsmStream}
import graft.streaming.Streams
import graft.streaming.Streams.{DocEvent, DocVersion, Event}

/** Streaming benchmark main: drives every stateful streaming operator with
  * deterministic synthetic micro-batches under the PRODUCTION RocksDB
  * state-store provider and reports throughput (rows/s of input consumed)
  * plus the state-store footprint from the engine's own progress metrics
  * (`stateOperators`: numRowsTotal + memoryUsedBytes).
  *
  * The batch-side Bench answers "how fast at sf0.1"; this main answers the
  * streaming 100 TB question the plan-shape audit alone can't: does state
  * stay BOUNDED while data flows through? Event time advances ~1 s per
  * row, so a full run spans many times every operator's TTL/watermark —
  * an operator whose state grew linearly with input rows (instead of with
  * the active window) would show state_rows on the order of total input
  * in the report. The report prints state_rows at the midpoint and the
  * end so growth is visible, not inferred.
  *
  * Output: ONE JSON line (same contract as Bench), also written to
  * STREAM_BENCH_OUT (default stream_bench.json).
  */
object StreamBench {

  private case class CorpusDoc(doc_id: Long, ts: Timestamp, text: String,
      source: String, lang: String)

  private val Base = 1700000000000L

  private def ts(i: Long): Timestamp = new Timestamp(Base + i * 1000L)

  /** Deterministic ~40-word text; ids collide mod `dupMod` so every
    * stream sees genuine duplicate content (the dedup operators must do
    * real ownership work, not just absorb unique rows).
    */
  private def text(i: Long, dupMod: Int): String = {
    val seed = i % dupMod
    val sb = new StringBuilder
    var k = 0
    while (k < 40) {
      if (k > 0) sb.append(' ')
      sb.append('w').append((seed * 2654435761L + k * 40503L) % 1000L)
      k += 1
    }
    sb.toString
  }

  private def event(i: Long): Event =
    Event(i, ts(i), i % 500,
      (i % 10) match { case 0 => "purchase"; case 1 | 2 => "view"; case _ => "click" },
      (i % 100).toDouble)

  private def docEvent(i: Long, dupMod: Int): DocEvent =
    DocEvent(i, ts(i), text(i, dupMod))

  private def docVersion(i: Long): DocVersion =
    DocVersion(i % 1000, i / 1000, ts(i), text(i, 800))

  private final case class Result(name: String, rows: Long, secs: Double,
      stateRowsMid: Long, stateRowsEnd: Long, stateBytesEnd: Long)

  def main(args: Array[String]): Unit = {
    val perBatch = sys.env.get("SPARK_GRAFT_STREAM_ROWS")
      .flatMap(_.toIntOption).getOrElse(20000)
    // Cadence knob for the throughput-attribution pass: the same total
    // row budget fed as many small batches (e.g. ROWS=4000 BATCHES=25 vs
    // the default 20000x5) separates per-ROW cost (codec/shuffle/state
    // lookups — rows/s barely moves) from per-BATCH fixed cost
    // (micro-batch planning + state-store commit — rows/s collapses in
    // proportion to the batch count).
    val batches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .flatMap(_.toIntOption).getOrElse(5)
    val spark = Sessions.local("graft-stream-bench",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def run[T](name: String, mk: Long => T, heavy: Boolean = false,
        mode: String = "append")(
        plan: MemoryStream[T] => DataFrame)(
        implicit enc: org.apache.spark.sql.Encoder[T]): Result = {
      val rows = if (heavy) perBatch / 4 else perBatch
      val input = MemoryStream[T]
      val q = plan(input).writeStream.format("noop")
        .outputMode(mode).start()
      try {
        var fed = 0L
        var midRows = 0L
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val data = (0 until rows).map(j => mk(fed + j))
          input.addData(data: _*)
          q.processAllAvailable()
          fed += rows
          if (b == batches / 2 - 1) midRows = stateRows(q)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val (endRows, endBytes) = stateRowsBytes(q)
        Result(name, fed, secs, midRows, endRows, endBytes)
      } finally q.stop()
    }

    def stateRows(q: StreamingQuery): Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
        .map(_.numRowsTotal).sum

    def stateRowsBytes(q: StreamingQuery): (Long, Long) = {
      val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }

    val results = Seq(
      run[Event]("hourly_agg", event, mode = "update")(in =>
        Streams.hourlyAgg(in.toDF())),
      run[Event]("sessionize", event)(in =>
        Streams.sessionize(spark, in.toDS(), gapSeconds = 600).toDF()),
      run[Event]("interval_join_inner", event)(in =>
        Streams.attributedConversions(in.toDS(), windowSeconds = 1800)),
      run[Event]("interval_join_outer", event)(in =>
        Streams.attributedConversionsOuter(in.toDS(), windowSeconds = 1800)),
      run[Event]("histogram", event, mode = "update")(in =>
        Streams.histogramStream(in.toDF().select(col("ts"), col("value")),
          mn = 0.0, mx = 100.0)),
      run[CorpusDoc]("corpus_clean", i =>
        CorpusDoc(i, ts(i), text(i, 800),
          if (i % 3 == 0) "web" else "book", "en"), mode = "update")(in =>
        Streams.corpusCleanStream(in.toDF())),
      run[DocEvent]("lsh_candidates", docEvent(_, 800), heavy = true)(in =>
        Streams.lshDedupCandidates(spark, in.toDS()).toDF()),
      run[DocEvent]("cdc_dedup", docEvent(_, 800), heavy = true)(in =>
        Streams.cdcDedupStream(spark, in.toDS()).toDF()),
      run[DocEvent]("phash_dedup", docEvent(_, 800), heavy = true)(in =>
        Streams.phashDedupStream(spark, in.toDS()).toDF()),
      run[DocEvent]("video_phash_dedup", docEvent(_, 800), heavy = true)(in =>
        Streams.videoPhashDedupStream(spark, in.toDS()).toDF()),
      run[DocVersion]("upsert", docVersion)(in =>
        Streams.upsertStream(spark, in.toDS())),
      // S5 live-server face: 500 sequential clients over 64 RSM groups;
      // state = 64 snapshot byte images, bounded by client/key cardinality
      // (sessions + cells), NOT by input rows.
      run[RsmKvLogRow]("rsm_apply", { i =>
        val client = i % 500
        val seq = i / 500
        RsmKvLogRow(client % 64, i, client, seq, s"k$client", s"v$seq", seq)
      }, mode = "update")(in => RsmStream.pipeline(spark, in.toDS()).toDF()),
      // WebDataset assembly: the two parts of sample i arrive as rows 2i
      // and 2i+1, so completed stems FREE their state within the batch —
      // steady state tracks the in-flight frontier, not the corpus.
      run[Streams.ShardEntry]("sample_assembly", { i =>
        Streams.ShardEntry(s"s${i / 2}", if (i % 2 == 0) "txt" else "json",
          ts(i), 100 + i % 400)
      })(in => Streams.sampleAssemblyStream(spark, in.toDS()).toDF()),
      // Bottom-k sampler: 40 strata; state is pinned at ≤ k pairs per
      // stratum no matter how many rows stream through — the one operator
      // whose state bound is k·|strata|, independent of both input volume
      // and watermark.
      run[Streams.StratumDoc]("bottomk_sample", { i =>
        Streams.StratumDoc(i, ts(i), s"src${i % 40}")
      })(in => Streams.bottomKSampleStream(spark, in.toDS()).toDF()),
      // Streaming packer: 40 shards; state is two longs per shard (next
      // offset + monotone doc_id guard) no matter the input volume.
      run[Streams.ShardDoc]("pack_sequences", { i =>
        Streams.ShardDoc(i, ts(i), s"src${i % 40}", text(i, 200))
      })(in => Streams.packSequencesStream(spark, in.toDS()).toDF()),
      // SCD2 maintenance: 500 users cycling 3 event types; state is one
      // open version per ACTIVE user (ttl-evicted), so state_rows tracks
      // the user cardinality, not the event volume.
      run[Event]("scd2", event)(in =>
        Streams.scd2Stream(spark, in.toDS(), ttlSeconds = 7200).toDF()),
      // Line dedup: texts collide mod 800, so segment digests recur and
      // the df counters do real promotion work; state is one long per
      // ACTIVE segment digest (ttl-evicted), bounded by the segment
      // vocabulary in the window, not by input rows.
      run[DocEvent]("line_dedup", docEvent(_, 800), heavy = true)(in =>
        Streams.lineDedupStream(spark, in.toDS(), segTtlSeconds = 7200).toDF()),
      // Anomaly: 3 event types, ~1 bucket/hour of event time; state is one
      // Welford triple + the open bucket per ACTIVE type — single digits,
      // however many rows stream through.
      run[Event]("anomaly", event)(in =>
        Streams.anomalyStream(spark, in.toDS(), ttlSeconds = 7200).toDF()),
      // Snapshot-table tail: the change-feed SOURCE driven by real table
      // commits (one append-commit per batch). Throughput here is
      // source+WRITER combined — each batch pays the parquet stage + CAS
      // commit AND the feed read — which is the honest number: tailing is
      // gated by commit throughput, the source adds one manifest diff +
      // bounded file read per batch. Stateless by design (offsets live in
      // the query checkpoint): state_rows pinned 0.
      {
        import graft.sources.Snapshots
        val table = graft.TempDirs.create("graft_sb_tail")
        val rows = perBatch
        var fed = 0L
        val t0 = System.nanoTime()
        Snapshots.publish(spark.range(rows).toDF("doc_id"), table)
        val q = spark.readStream.format("graft-snapshot").load(table)
          .writeStream.format("noop").outputMode("append").start()
        try {
          q.processAllAvailable()
          fed += rows
          for (_ <- 1 until batches) {
            Snapshots.append(
              spark.range(fed, fed + rows).toDF("doc_id"), table)
            q.processAllAvailable()
            fed += rows
          }
          Result("snapshot_tail", fed, (System.nanoTime() - t0) / 1e9,
            0L, 0L, 0L)
        } finally q.stop()
      })

    val qs = results.map { r =>
      val rps = if (r.secs > 0) r.rows / r.secs else 0.0
      "\"" + r.name + "\":" +
        f"""{"rows":${r.rows},"secs":${r.secs}%.2f,"rows_per_sec":$rps%.0f,""" +
        f""""state_rows_mid":${r.stateRowsMid},"state_rows_end":${r.stateRowsEnd},""" +
        f""""state_bytes_end":${r.stateBytesEnd}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"stream_bench","provider":"rocksdb","batches":$batches,""" +
        s""""streams":$qs}"""
    println(line)
    val out = sys.env.getOrElse("STREAM_BENCH_OUT", "stream_bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
