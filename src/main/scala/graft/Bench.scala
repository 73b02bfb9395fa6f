package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing forces FULL materialization through the `noop` datasource sink —
  * `count()` on a projection lets Spark skip column evaluation, which would
  * flatter scan-heavy queries.
  */
object Bench {

  /** Headline set: one per workload family (scan-agg, join, window,
    * text explode, dedup join, vector math, stateful fold).
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "q7_nation_volume", "q9_product_profit", "q6_forecast_revenue",
    "q14_promo_effect", "q10_returned_items", "q19_discounted_revenue",
    "q2_min_cost_supplier", "q8_market_share", "q11_important_parts",
    "q12_priority_class", "q13_customer_distribution", "q15_top_supplier",
    "q16_supplier_part_census", "q17_small_quantity_revenue",
    "q20_excess_suppliers", "q21_waiting_suppliers", "q22_sales_opportunity",
    "q_top_customers_per_nation", "q_events_sessions",
    "mr_wordcount", "mr_inverted_index", "ta_quality_score",
    "ta_rolling_hash", "ta_winnow",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_lsh_verified",
    "dedup_components", "dedup_keep_best", "dedup_simhash",
    "dedup_simhash_hamming",
    "dedup_url_canonical", "dedup_containment", "dedup_substring",
    "dedup_lines", "dedup_prefix_join", "ta_pii_redact",
    "ta_encoding_fix",
    "sim_topk_bruteforce", "sim_kmeans_assign", "sim_kmeans_iter2",
    "sim_topk_ivf", "sim_topk_ivf_probe2", "sim_pq_encode",
    "sim_topk_pq_adc", "sim_topk_ivfpq", "sim_topk_ivfpq_residual",
    "sim_topk_sq8", "sim_topk_mrl", "sim_knn_graph", "sim_knn_graph_mplsh",
    "sim_knn_clusters", "sim_hier_assign", "sim_knn_graph_hier",
    "sim_topk_ivf_pruned", "sim_topk_hier_pruned", "sim_topk_hier_snap",
    "dedup_semantic", "dedup_embedding_cosine",
    "kv_cas_replay", "ta_tfidf", "ta_repetition", "dedup_span",
    "ta_decontaminate", "ta_novelty", "ta_cdc_chunks", "dedup_cdc", "ta_cms_topk",
    "q_hll_portable", "q_hll_merge", "q_quantile_sketch", "q_quantile_merge",
    "q_full_outer_recon", "q_events_interval_join", "q_retention_cohorts",
    "q_events_gapfill", "q_large_orders_having", "q_events_scd2",
    "q_events_dwell", "q_events_anomaly", "q_events_markov",
    "dedup_bloom_incremental", "ta_unigram_logprob", "ta_bigram_logprob",
    "ta_kn_logprob",
    "sim_dim_stats",
    "sim_power_iteration", "pipeline_corpus_clean", "pipeline_token_budget",
    "pipeline_modal_curation", "pipeline_dataset_card",
    "pipeline_sample_exact_k", "pipeline_sample_weighted", "pipeline_pack_sequences",
    "pipeline_quarantine", "pipeline_upsert",
    "pipeline_bpe_fit", "pipeline_bpe_apply", "pipeline_quality_fit",
    "pipeline_quality_calibration", "pipeline_dsir_select",
    "pipeline_fasttext_fit", "pipeline_domain_cap", "pipeline_lang_mixture",
    "ta_zipf_fit",
    "pipeline_training_corpus", "mm_decode_stub", "mm_pixel_stats",
    "mm_png_stats", "mm_gif_stats", "mm_jpeg_stats", "mm_jpeg_color",
    "mm_phash", "mm_phash_hamming",
    "mm_wav_stats", "mm_ulaw_stats", "mm_adpcm_stats",
    "mm_audio_spectrum", "mm_audio_hamming", "mm_video_stats",
    "mm_video_phash", "dedup_cross_modal",
    "graph_pagerank", "graph_triangles", "graph_label_prop",
    "rsm_submit_replay", "ta_bm25",
    "src_warc_ingest", "src_url_filter", "src_webdataset_ingest",
    "src_zip_ingest", "src_zorder_layout", "src_snapshot_merge",
    "src_schema_evolution", "src_bucketed_join", "pipeline_incremental_agg",
    "src_change_feed", "src_stats_pruned_scan", "src_zorder_pruned_scan",
    "src_deletion_vectors", "src_metadata_count", "src_restore",
    "src_bloom_point_read")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")

    // Untimed warmup on the BENCHMARKED dataset: loads classes, JITs the
    // codegen paths, and scans every table in sfDir once — warming a
    // different directory (as the old `entry(spark)` call did, hardcoded
    // to sf0.001) left the first timed repeat of each family paying cold
    // IO, and aborted outright when sf0.001 wasn't present.
    // Partial datasets are legitimate here: GenData.generateOnly writes
    // only the tables a focused probe pays for (e.g. lineitem+orders at
    // g100), so warm what EXISTS and skip the rest — the skipped tables
    // are by construction ones no selected query reads.
    val present = graft.queries.Tables.names.filter(n =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(sfDir, s"$n.parquet")))
    present.foreach { n =>
      graft.queries.Tables.t(spark, sfDir, n)
        .write.format("noop").mode("overwrite").save()
    }
    if (Seq("customer", "orders", "lineitem", "nation", "region", "supplier")
        .forall(present.contains))
      SparkEntry.queries("q5_nation_revenue")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val queries = SparkEntry.queries
    // min of N repeats per query (default 3): local-box load noise dwarfs
    // real plan differences on single runs. Calibration (round 6): the
    // round-5 driver run recorded pipeline_bpe_fit 1.26 s / dedup_span
    // 0.92 s at min-of-2 — 2.8×/1.75× their round-4 values with NEITHER
    // builder changed; four fresh sweeps re-measured them at 0.40–0.45 s /
    // 0.51–0.61 s. Ambient-noise outliers of that size get through
    // min-of-2; across three full min-of-3 sweeps both queries stayed
    // inside ±9% and the headline total inside ±11%, so 3 is the default.
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(_.toIntOption).getOrElse(3) max 1
    // Optional isolation filter (comma-separated query names): lets a
    // fresh JVM time a suspect query without the preceding sweeps. Any
    // DECLARED query can be isolated (not just headline names), and an
    // unknown name fails loudly — a typo must not produce a passing-
    // looking empty run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case None => headline
      case Some(f) =>
        val unknown = f.filterNot(queries.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY: unknown queries ${unknown.mkString(",")}")
        headline.filter(f) ++ f.diff(headline.toSet).toSeq.sorted
    }
    // The last timed repeat of each query runs inside a TaskLog, which
    // gives the query's row in `tasks`, `spill` and `jobs`. Per-query task
    // counts make serial-by-design (the decode family's zero-exchange map
    // law over a one-split scan) distinguishable from serial-by-bug (a
    // one-split scan feeding heavy map work). Spill and shuffle bytes tell
    // a spill knee (per-partition bytes outgrew execution memory; fix =
    // partitions ∝ data) from an algorithmic term (work grew
    // super-linearly; fix = the plan). In `jobs`, the query's time minus
    // `s` is the driver time outside Spark jobs. The queries are
    // deterministic, so one run's log is per-RUN, not repeat× the figures.
    // Only the rendered rows are kept, not the log's events.
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    // Isolation-mode warm pass: a fresh JVM timing one query pays cold
    // shared-builder materializations the full sweep amortizes across
    // neighbors (dedup_keep_best: 5.2 s isolated vs 3.76 s in-sweep, same
    // box, same hour). So an isolated query runs once UNTIMED before its
    // timed repeats when repeat > 1; a repeat=1 run times a single cold
    // pass. The artifact records which mode ran (isolation_warm).
    val isolationWarm = only.nonEmpty && repeat > 1
    val loadavgStart = loadavg()
    val raw = selected.filter(queries.contains).map { name =>
      if (isolationWarm) {
        try queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // timed pass reports the failure
        graft.queries.Q.releaseMaterialized(spark)
      }
      def timed(): Double = {
        val t0 = System.nanoTime()
        try {
          queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      }
      val times = (1 to repeat).map { i =>
        val dt = if (i < repeat) timed() else {
          val (dt, log) = TaskLog.of(spark.sparkContext)(timed())
          if (!log.complete) System.err.println(
            s"[bench] listener bus did not drain; $name's rows approximate")
          rows(name) = Seq(log.tasks.size.toString, spillJson(log),
            s"""{"n":${log.jobs.size},"s":${jf(log.jobSeconds)}}""")
          dt
        }
        // Per-repeat release of the dead materialized frames (round 14,
        // guide §5 "unpersist when done" — see Q.releaseMaterialized):
        // every repeat re-builds every checkpointed frame from parquet,
        // so the previous repeat's blocks are garbage the async
        // cleaner only frees after a driver GC. Letting them pile up
        // measured as a 4x slowdown of a fixed-shape plan across the
        // sweep (6.95 s -> 28.2 s on the quiet r14 baseline box) that
        // lands on whatever allocation-heavy queries run late — the
        // r13 "32-core regression family" was exactly this. The
        // release runs OUTSIDE the timed region and changes no query's
        // computation: every timed run still computes from parquet.
        graft.queries.Q.releaseMaterialized(spark)
        // A failed query reports -1 (not its near-zero elapsed time) so
        // the metric can't be silently flattered by fast failures.
        dt
      }
      name -> (if (times.contains(-1.0)) Seq(-1.0) else times.sorted)
    }
    val loadavgEnd = loadavg()
    val results = raw.map { case (name, ts) => name -> ts.head } // min
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + jf(v) }
      .mkString("{", ",", "}")
    // Per-query repeat spread (min/median/max of the sorted repeats): the
    // round-6 lesson is that a single ambient-load outlier can make the
    // official artifact read as a +24% regression while the engine got 9%
    // faster. The spread makes noise VISIBLE IN the artifact — a query
    // whose max is 3x its min was measured on a loaded box, and the record
    // says so itself instead of needing a forensic re-run to exonerate.
    val spreads = raw
      .map { case (k, ts) =>
        val med = ts(ts.size / 2)
        "\"" + k + "\":" + s"""{"min":${jf(ts.head)},"med":${jf(med)},""" +
          s""""max":${jf(ts.last)}}"""
      }
      .mkString("{", ",", "}")
    // Any failure poisons the total to -1: summing only successes would
    // make a breaking change read as a speedup.
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    def field(key: String, i: Int): String =
      rows.map { case (k, r) => "\"" + k + "\":" + r(i) }
        .mkString("\"" + key + "\":{", ",", "},")
    // Run provenance IN the artifact: loadavg before/after the timed
    // sweep plus the kernel's runnable/total process counts — a loadavg
    // far above this JVM's own core use means the numbers were measured
    // against a loaded box. isolation_warm says whether isolated queries
    // got the untimed warm pass.
    val prov = s"""{"loadavg_start":"$loadavgStart",""" +
      s""""loadavg_end":"$loadavgEnd","cpus":${Sessions.cpus},""" +
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""isolation_warm":$isolationWarm}"""
    val line =
      s"""{"metric":"total","value":${jf(total)},"unit":"sec",""" +
        s""""queries":$qs,"spreads":$spreads,""" +
        field("tasks", 0) + field("spill", 1) + field("jobs", 2) +
        s""""repeat":$repeat,"provenance":$prov,"sf":"$sfDir"}"""
    println(line)
    // Also write the line to a file: sbt decorates stdout with [info]
    // prefixes, which broke the driver's JSON parse in round 1.
    val out = sys.env.getOrElse("BENCH_OUT", "bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    // The default bench.json is overwritten by EVERY sweep (a round-8
    // judge run clobbered the driver artifact's copy): keep a
    // timestamped sidecar per run so no sweep silently replaces
    // another's record. Explicit BENCH_OUT callers manage their own.
    if (!sys.env.contains("BENCH_OUT"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench-${System.currentTimeMillis()}.json"),
        (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  private def jf(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** "load1 load5 load15 running/total" from /proc/loadavg ("" off-Linux). */
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").take(4).mkString(" ")
    catch { case _: Throwable => "" }

  /** Spill and shuffle bytes summed over a log's task ends. */
  private def spillJson(log: TaskLog): String = {
    val ms = log.tasks.map(_.taskMetrics).filter(_ != null)
    def gb(bytes: org.apache.spark.executor.TaskMetrics => Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(ms.map(bytes).sum / 1e9))
    // approx=true: the listener-bus drain timed out, so task ends of this
    // run may be missing — the bytes are a lower bound, and the row says
    // so itself instead of the sweep aborting.
    val approxField = if (log.complete) "" else ""","approx":true"""
    s"""{"spill_mem_gb":${gb(_.memoryBytesSpilled)},""" +
      s""""spill_disk_gb":${gb(_.diskBytesSpilled)},""" +
      s""""shuffle_write_gb":${gb(_.shuffleWriteMetrics.bytesWritten)},""" +
      s""""shuffle_read_gb":${gb(_.shuffleReadMetrics.totalBytesRead)}""" +
      approxField + "}"
  }
}
