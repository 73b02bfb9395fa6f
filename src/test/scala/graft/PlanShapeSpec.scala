package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

/** Mechanical lock on the plan shapes the scale design promises
  * (history/PLANS.md is the narrative audit; this spec keeps it true):
  * pushed-down filters on the TPC-H scans, the single-exchange shapes
  * round 2 established, and the no-all-pairs-product rule across EVERY
  * declared query — the only BroadcastNestedLoopJoins allowed are the
  * deliberate bounded-broadcast ones (the 20-row query batch in
  * sim_topk_bruteforce, the k=10 centroid table in the k-means quantizer
  * — which the IVF probes and SemDeDup inherit — and ta_tfidf's 1-row
  * corpus-size scalar join).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("TPC-H queries push filters into the parquet scans") {
    Seq("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
      "q7_nation_volume", "q9_product_profit", "q6_forecast_revenue",
      "q14_promo_effect", "q10_returned_items")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("PushedFilters: [Is") || p.contains("PushedFilters: [Equal") ||
          p.contains("PushedFilters: [Less") || p.contains("PushedFilters: [Greater"),
          s"$q scan lost its pushed filters:\n$p")
      }
  }

  test("single-exchange shapes stay single-exchange") {
    Seq("mr_inverted_index", "kv_cas_replay", "q_events_sessions",
      "shard_route_fnv", "mr_wordcount",
      // domain cap: the ranking window's source-keyed exchange is REUSED
      // by the census groupBy — the whole operator is one shuffle (r7).
      "pipeline_domain_cap",
      // SCD2: change-detect window, version groupBy and validity-chain
      // window all ride one user-keyed exchange (groupBy keys are a
      // superset of the partitioning, so no re-exchange) (r7).
      "q_events_scd2",
      // dwell census: lag window + groupBy on the same user key (r7).
      "q_events_dwell",
      // RSM apply: the group-keyed exchange of its sorted groups; the
      // rank window's exchange sits behind the materialized log.
      "rsm_submit_replay").foreach { q =>
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan(q)).length
      assert(shuffles == 1, s"$q: expected exactly 1 shuffle, got $shuffles")
    }
  }

  test("state replays ride one sort: sorted groups reuse the existing order") {
    // KvBatch.replay and the RSM apply group by a COLUMN, so the group
    // sort is (key, seq) on the key-partitioned input: kv_cas_replay's
    // version window already sorted it that way, and the RSM log is
    // sorted once. A `groupByKey` lambda would append a new key column
    // and plan a second exchange and sort on it.
    Seq("kv_cas_replay", "rsm_submit_replay").foreach { q =>
      val p = plan(q)
      val sorts = "\\bSort \\[".r.findAllIn(p).length
      assert(sorts == 1, s"$q: expected exactly 1 Sort, got $sorts:\n$p")
    }
  }

  test("real-decode queries stay MAP-ONLY (zero exchanges)") {
    // history/PLANS.md promises every per-payload codec query is one scan
    // with zero exchanges — payload bytes never shuffle, only fixed-width
    // feature rows leave the scan stage. Lock it mechanically: a stray
    // repartition/groupBy slipped into a decode path fails here.
    Seq("mm_pixel_stats", "mm_wav_stats", "mm_png_stats", "mm_gif_stats",
      "mm_jpeg_stats", "mm_jpeg_color", "mm_video_stats",
      "mm_audio_spectrum", "mm_decode_stub", "src_warc_ingest",
      "src_webdataset_ingest").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q: the map-only decode plan grew an exchange:\n$p")
    }
  }

  test("global windows only ever run over bounded inputs") {
    // Four queries use a single-partition window deliberately — the
    // input is already bounded, so the window moves k rows, never the
    // data. Their WindowExec WARN is suppressed at session build
    // (Sessions.quietBoundedWindowWarn); THIS lock is what keeps that
    // suppression honest — the plan must still contain the bounding
    // operator feeding the window, so an UNbounded global window can't
    // hide behind the silenced logger.
    Seq("ta_cms_topk", "ta_zipf_fit").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q lost its window — update this lock")
      // The rank window's input is the GlobalLimit head (top-10 /
      // top-1000), materialized as TakeOrderedAndProject.
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: the window's GlobalLimit bound is gone:\n$p")
    }
    // The quantile sketches' cumulative windows read the bucket
    // aggregate: the domain is clamped to 1024 buckets by the least(...)
    // projection under a groupBy(bucket). q_quantile_sketch shows both in
    // its final plan; q_quantile_merge's clamp sits behind its histogram
    // checkpoints (the final plan reads the ≤1024-row sketches as
    // ExistingRDD), so the lock there is the bucket-keyed aggregate
    // feeding the window.
    Seq("q_quantile_sketch", "q_quantile_merge").foreach { q =>
      val qp = plan(q)
      assert(qp.contains("Window"), s"$q lost its window")
      assert(qp.contains("HashAggregate(keys=[bucket"),
        s"$q: window input is no longer the bucket aggregate:\n$qp")
    }
    assert(plan("q_quantile_sketch").toLowerCase.contains("least"),
      "q_quantile_sketch: bucket clamp no longer visible")
  }

  test("no all-pairs product in any declared query (bounded-broadcast whitelist)") {
    // These contain a deliberate BNLJ whose build side is a bounded
    // broadcast (20-row query batch / 10-row centroid table / single-row
    // aggregate cross in the set-ops summary), never N x N.
    val whitelist = Set("sim_topk_bruteforce", "sim_kmeans_assign",
      "sim_kmeans_iter2", "sim_topk_ivf", "sim_topk_ivf_probe2", "sim_topk_ivfpq",
      // residual IVF-PQ inherits cellRanks' k-row centroid broadcast
      // cross (both the assignment and the probe set) (r7).
      "sim_topk_ivfpq_residual",
      // kNN graph: cellRanks' centroid cross for assignment + probes (r7).
      "sim_knn_graph",
      // clusters inherit the kNN graph's centroid cross pre-materialization (r7).
      "sim_knn_clusters",
      "dedup_semantic", "pipeline_modal_curation", "ta_tfidf",
      "ta_unigram_logprob", "pipeline_token_budget", "q_events_setops",
      "q_hll_merge", "q_quantile_sketch", "q_quantile_merge",
      "sim_power_iteration", "pipeline_bpe_fit", "q_events_gapfill",
      "pipeline_quality_fit",
      // 1-row node-count scalar cross in the teleport term (r7); the loop
      // body's own crosses sit behind materializeLoop and are audited in
      // history/PLANS.md like every iterative body.
      "graph_pagerank",
      // 1-row corpus-stats (avgdl, n_docs) scalar cross (r7).
      "ta_bm25",
      // 1-row learned-merge crosses (the bpe_fit pattern) applied to the
      // vocabulary frame (r7).
      "pipeline_bpe_apply",
      // 1-row (N_tgt, N_raw, |V|) totals cross into the lexicon — the
      // unigram_logprob pattern (r7).
      "pipeline_dsir_select",
      // 20-row query-code batch against the code table — the
      // sim_topk_bruteforce pattern on 8-bit codes (r7).
      "sim_topk_sq8",
      // 20-row query-prefix batch in the funnel's stage-1 scan; stage 2
      // is equi joins only (r7).
      "sim_topk_mrl",
      // quality_fit's 1-row weight crosses, reused by the calibration
      // census (r7).
      "pipeline_quality_calibration",
      // 1-row n/bias/accuracy crosses around the hashed-LR trainer; the
      // weight TABLE itself joins by bucket key, never crosses (r7).
      "pipeline_fasttext_fit",
      // 1-row bigram-type-total cross in the Kneser-Ney continuation
      // term; all model tables join by key (r7).
      "ta_kn_logprob",
      // 1-row min/max normalization stats cross feeding the Morton
      // interleave (r7).
      "src_zorder_layout",
      // 1-row token-total and weight-sum crosses around the 5-row
      // language frame (r7).
      "pipeline_lang_mixture",
      // TPC-H scalar subqueries (r8): 1-row global-threshold / max /
      // average-balance aggregates crossing back into their own source
      // frame — the canonical bounded-broadcast shape.
      "q11_important_parts", "q15_top_supplier", "q22_sales_opportunity")
    // The only queries allowed an UNPARTITIONED window (single-partition
    // shuffle) — each one's input bound is asserted above. This sweep is
    // what makes the session-wide WindowExec WARN suppression
    // (Sessions.quietBoundedWindowWarn) safe: a new global window in ANY
    // other declared query fails here instead of warning into a silenced
    // logger. Checked on the optimized logical plan, so it sees the final
    // composition of every query (subtrees behind a checkpoint are
    // covered when their own builder's final plan is swept).
    val boundedGlobalWindow = Set("ta_cms_topk", "ta_zipf_fit",
      "q_quantile_sketch", "q_quantile_merge")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      if (!whitelist.contains(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q grew an all-pairs product:\n$p")
      if (!boundedGlobalWindow.contains(q)) {
        val globals = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        assert(globals.isEmpty,
          s"$q grew an unpartitioned global window (single-partition " +
            s"shuffle of the whole input) — partition it or bound its " +
            s"input and add it to the whitelist above:\n" +
            globals.headOption.getOrElse(""))
      }
    }
  }

  test("no global window hides behind a materialization (none-posture sweep)") {
    // The sweep above reads each query's final optimizedPlan — a window
    // inside a Q.materialize'd subtree is invisible there (the subtree
    // shows as ExistingRDD) while its WindowExec WARN is still
    // session-suppressed. Re-planning every query inside Q.inlineScope
    // keeps Q.materialize subtrees inline, so this leg sees windows the
    // final-plan sweep cannot. Remaining blind spot, stated precisely:
    // Q.materializeLoop ALWAYS cuts lineage (a convergence loop's plan
    // would re-double per round otherwise), so a window inside an
    // iterative loop BODY stays behind ExistingRDD even here — loop
    // bodies are small fixed shapes audited in history/PLANS.md, not
    // sweepable. Window check only: join shapes legitimately differ
    // inline (repeated subtrees re-inline), so the BNLJ rule stays with
    // the default-posture sweep above.
    val boundedGlobalWindow = Set("ta_cms_topk", "ta_zipf_fit",
      "q_quantile_sketch", "q_quantile_merge")
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(boundedGlobalWindow.contains).foreach { q =>
        val globals = Q.inlineScope(SparkEntry.queries(q)(spark, dir))
          .queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }
        assert(globals.isEmpty,
          s"$q hides an unpartitioned global window behind a " +
            s"materialization:\n" + globals.headOption.getOrElse(""))
      }
  }
}
