package graft.queries

import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.functions.Hashing
import graft.state.{KvBatch, KvOp, KvRsmMachine, KvTypes, Rsm, RsmEntry}

/** Engine-level operators exposed as queries: the FNV shard router (S6) via
  * the native Catalyst expression, and the versioned-KV CAS replay (S1/S2)
  * driven by a deterministic op log derived from `events`.
  */
object EngineOps {
  import Tables.t

  val shardRoute = Q(
    "shard_route_fnv",
    "The reference's static shard routing Key2Shard = FNV-1a-32(key) mod 12 " +
      "(src/shardkv1/shardcfg/shardcfg.go:17-34) as a native codegen " +
      "Expression (graft.functions.Fnv1a32), applied to every doc key — " +
      "shard histogram + distinct keys per shard. The DuckDB oracle " +
      "recomputes FNV-1a with a list_reduce fold over the code points, " +
      "proving bit parity of the custom expression.",
    Some("""
      SELECT list_reduce(
               list_prepend(2166136261::BIGINT,
                 list_transform(range(1, len(k) + 1),
                   i -> ord(substr(k, i, 1))::BIGINT)),
               (acc, x) -> (xor(acc, x) * 16777619) & 4294967295) % 12 AS shard,
             count(*) AS n_keys
      FROM (SELECT doc_id::VARCHAR AS k FROM documents)
      GROUP BY shard""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(Hashing.key2shard(col("doc_id").cast("string")).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_keys")))

  val kvReplay = Q(
    "kv_cas_replay",
    "Versioned-KV CAS replay (S1/S2 spec, src/kvsrv1/rpc/rpc.go:19-39): " +
      "events become an ordered Put log per user — non-error events carry " +
      "the correct expected version (count of prior non-error ops), error " +
      "events carry a poisoned version and must be rejected. The log is " +
      "replayed by KvBatch.replay, ONE shuffle and ONE sort through " +
      "Spark's sorted groups (groupBy(key) + flatMapSortedGroups(seq)): " +
      "the version window's user-keyed exchange and its (user, event_id) " +
      "sort are reused by the grouping, so each user's log arrives as one " +
      "ordered group that STREAMS through the CAS fold — no per-user " +
      "materialization, so a pathologically hot user spills in the sort " +
      "instead of blowing the heap. " +
      "The oracle is the closed form the deterministic log implies. Scales " +
      "per-key with no cross-key coordination — the state-store sharding " +
      "contract.",
    Some("""
      SELECT user_id AS key,
             coalesce(max(CASE WHEN event_type <> 'error' THEN event_id END)::VARCHAR, '')
               AS value,
             count(*) FILTER (WHERE event_type <> 'error')::BIGINT AS version,
             count(*) FILTER (WHERE event_type <> 'error')::BIGINT AS n_applied,
             count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_rejected
      FROM events
      GROUP BY user_id""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      // Expected version of a non-error op = its user's prior non-error
      // ops; partitioned by the replay's own key and ordered by its seq,
      // so the replay's grouping reuses this exchange and this sort.
      val w = Window.partitionBy(col("key")).orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ops = t(spark, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          col("event_id").as("seq"),
          when(col("event_type") === "error", 0L).otherwise(1L).as("ok"))
        .select(col("key"), col("seq").cast("string").as("value"),
          when(col("ok") === 1L, sum(col("ok")).over(w) - 1L)
            .otherwise(999999999L).as("version"),
          lit(false).as("retried"), col("seq"))
        .as[KvOp]
      KvBatch.replay(spark, ops).toDF()
        .select(col("key").cast("long").as("key"), col("value"),
          col("version"), col("nApplied").as("n_applied"),
          col("nRejected").as("n_rejected"))
    })

  val rsmReplay = Q(
    "rsm_submit_replay",
    "Replicated-state-machine apply (S5, src/kvraft1/rsm/rsm.go:30-34," +
      "82-90): the committed log is (group, index, clientId, seq, op) rows " +
      "— one RSM per group (the shardkv deployment shape), index ordering " +
      "the group's log. Derived here from events: each user is a client " +
      "writing its own key, seq/expected-CAS-version = rank of the event " +
      "within the user, and every 7th entry is RE-SUBMITTED one log slot " +
      "later (leader-change resend → committed twice) — the session table " +
      "must suppress the re-apply and answer from cache, which the oracle " +
      "checks by counting originals as applied and re-sends as suppressed. " +
      "Plan: the rank window shuffles by user (in production the CLIENT " +
      "stamps seq, so the operator itself is the single group-shuffle), " +
      "then ONE groupBy(grp) whose groups are sorted by idx " +
      "(flatMapSortedGroups) streams each group's log through the " +
      "sequential fold — per-group order is all the contract needs, so " +
      "groups scale out with no cross-group coordination. n_applied / " +
      "n_ok / version_sum are computed from three independent places in " +
      "the fold (apply counter, DoOp results, final state map) and must " +
      "all equal the oracle's count.",
    Some("""
      WITH per_client AS (
        SELECT user_id % 8 AS grp, user_id AS client,
               count(*)::BIGINT AS n_ops,
               max(event_id)::BIGINT AS last_val,
               count(*) FILTER (WHERE event_id % 7 = 0)::BIGINT AS n_dup
        FROM events GROUP BY 1, 2)
      SELECT grp,
             count(*)::BIGINT AS n_keys,
             sum(n_ops)::BIGINT AS n_applied,
             sum(n_dup)::BIGINT AS n_suppressed,
             sum(n_ops)::BIGINT AS n_ok,
             sum(last_val)::BIGINT AS last_value_sum,
             sum(n_ops)::BIGINT AS version_sum
      FROM per_client GROUP BY grp""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy("user_id").orderBy("event_id")
      // Materialized: the log is referenced twice (originals + the resend
      // branch) — without cutting here the scan + rank window execute
      // twice under the union.
      val base = Q.materialize(t(spark, dir, "events")
        .select(col("event_id"), col("user_id"))
        .withColumn("grp", pmod(col("user_id"), lit(8L)))
        .withColumn("seq", (row_number().over(w) - 1).cast("long"))
        .select(col("grp"), col("user_id").as("client"), col("seq"),
          col("event_id").as("val"), (col("event_id") * 2).as("idx")))
      val resend = base.filter(col("val") % 7 === 0)
        .withColumn("idx", col("idx") + 1)
      base.unionByName(resend)
        .groupBy(col("grp")).as[Long, (Long, Long, Long, Long, Long)]
        .flatMapSortedGroups(col("idx")) { (grp, run) =>
          var img = Rsm.start(KvRsmMachine)
          var nOk = 0L
          run.foreach { case (_, client, seq, v, idx) =>
            // Expected CAS version = seq: the client's ops apply in
            // order, so its key's version equals its prior-op count.
            val op = KvOp(client.toString, v.toString, version = seq,
              seq = idx)
            val (next, res, dup) =
              Rsm.applyEntry(KvRsmMachine, img, RsmEntry(idx, client, seq, op))
            if (!dup && res._1 == KvTypes.OK) nOk += 1L
            img = next
          }
          Iterator.single((grp, img.state.size.toLong, img.nApplied,
            img.nSuppressed, nOk,
            img.state.valuesIterator.map(_.value.toLong).sum,
            img.state.valuesIterator.map(_.version).sum))
        }
        .toDF("grp", "n_keys", "n_applied", "n_suppressed", "n_ok",
          "last_value_sum", "version_sum")
    })

  val all: Seq[Q] = Seq(shardRoute, kvReplay, rsmReplay)
}
