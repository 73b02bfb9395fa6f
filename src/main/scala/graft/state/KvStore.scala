package graft.state

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's versioned-KV specification layer (SURVEY.md §2.3 S1–S3),
  * implemented to the TEST-DEFINED spec — the reference server bodies are
  * course stubs (`// Your code here`, src/kvsrv1/server.go:36-47); semantics
  * come from the RPC contract (src/kvsrv1/rpc/rpc.go:19-39), the client's
  * retry ambiguity rule (src/kvsrv1/client.go:37-53) and the executable
  * porcupine model (src/models1/kv.go:49-67).
  *
  * One pure state machine ([[KvStateMachine.step]]) drives three surfaces:
  * a batch replay operator (a sorted-group fold per key), a Structured
  * Streaming `mapGroupsWithState` pipeline, and property tests.
  */
object KvTypes {
  /** Error algebra, src/kvsrv1/rpc/rpc.go:5-16. */
  final val OK = "OK"
  final val ErrNoKey = "ErrNoKey"
  final val ErrVersion = "ErrVersion"
  /** Retried Put that fails version-check: MAY have applied already
    * (src/kvsrv1/client.go:39-46).
    */
  final val ErrMaybe = "ErrMaybe"
}

/** A Put request: apply `value` iff `version` equals the cell's current
  * version; version 0 creates a missing key (src/kvsrv1/server.go:40-44).
  * `retried` marks a client re-send (at-most-once ambiguity → ErrMaybe).
  * `seq` totally orders a key's ops — group iterators after a shuffle have
  * NO guaranteed order, so both replay paths sort by it before folding.
  */
case class KvOp(key: String, value: String, version: Long,
    retried: Boolean = false, seq: Long = 0L)

/** A key's cell: (value, version), src/kvsrv1/rpc/rpc.go:31-39. */
case class KvCell(value: String, version: Long)

case class KvResult(key: String, value: String, version: Long,
    nApplied: Long, nRejected: Long)

object KvStateMachine {
  import KvTypes._

  /** One CAS transition, the executable spec mirrored from the porcupine
    * model (src/models1/kv.go:57-64): returns the new cell (unchanged on
    * reject) and the client-visible error.
    */
  def step(cell: Option[KvCell], op: KvOp): (Option[KvCell], String) =
    cell match {
      case None =>
        if (op.version == 0L) (Some(KvCell(op.value, 1L)), OK)
        else (None, ErrNoKey)
      case Some(KvCell(_, v)) =>
        if (op.version == v) (Some(KvCell(op.value, v + 1L)), OK)
        else (cell, if (op.retried) ErrMaybe else ErrVersion)
    }

  /** Sequential replay of one key's ordered op log, starting from `from`
    * (a missing key by default; the stored cell on the streaming face).
    */
  def replayKey(key: String, ops: Iterator[KvOp],
      from: Option[KvCell] = None): KvResult = {
    var cell = from
    var applied = 0L
    var rejected = 0L
    ops.foreach { op =>
      val (next, err) = step(cell, op)
      if (err == OK) applied += 1 else rejected += 1
      cell = next
    }
    KvResult(key, cell.map(_.value).getOrElse(""),
      cell.map(_.version).getOrElse(0L), applied, rejected)
  }
}

object KvBatch {
  /** Distributed CAS replay through Spark's sorted groups: ops are grouped
    * by the `key` column (one shuffle by key, the S6 shard routing at
    * engine level) and each group's ops are sorted by `seq`, so each key's
    * log streams through the sequential fold as one ordered iterator; no
    * per-key materialization, and the sort spills to disk on a hot key.
    * Grouping by the column (not a `groupByKey` lambda) keeps the exchange
    * on `key` itself, so a caller already partitioned by key (the version
    * window of `kv_cas_replay`) adds no second exchange. Per-key order is
    * the only order CAS semantics need, so the operator scales to
    * arbitrarily many keys with no cross-key coordination.
    */
  def replay(spark: SparkSession, ops: Dataset[KvOp]): Dataset[KvResult] = {
    import spark.implicits._
    ops.groupBy(col("key")).as[String, KvOp]
      .flatMapSortedGroups(col("seq"))((k, run) =>
        Iterator.single(KvStateMachine.replayKey(k, run)))
  }
}

object KvStream {
  /** The request/response face as arbitrary stateful streaming: one
    * GroupState cell per key, exactly the S1/S2 transition per arriving op.
    */
  def update(key: String, ops: Iterator[KvOp],
      state: GroupState[KvCell]): KvResult = {
    // Sort within the micro-batch: group order is otherwise nondeterministic.
    val r = KvStateMachine.replayKey(key, ops.toSeq.sortBy(_.seq).iterator,
      state.getOption)
    // Versions start at 1, so version 0 is exactly "no cell yet".
    if (r.version > 0L) state.update(KvCell(r.value, r.version))
    r
  }

  def pipeline(spark: SparkSession, ops: Dataset[KvOp]): Dataset[KvResult] = {
    import spark.implicits._
    ops.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update _)
  }
}

/** Client-side lock on the KV cell (S3, src/kvsrv1/lock/lock.go:21-33):
  * acquire = CAS the lock key from "" to owner; release = CAS back.
  * Pure function over the same state machine, exercised in tests.
  */
object KvLock {
  def tryAcquire(cell: Option[KvCell], owner: String): (Option[KvCell], Boolean) =
    cell match {
      case None =>
        val (c, e) = KvStateMachine.step(None, KvOp("lock", owner, 0L))
        (c, e == KvTypes.OK)
      case Some(KvCell(v, ver)) if v == "" =>
        val (c, e) = KvStateMachine.step(cell, KvOp("lock", owner, ver))
        (c, e == KvTypes.OK)
      case _ => (cell, false)
    }

  def release(cell: Option[KvCell], owner: String): Option[KvCell] =
    cell match {
      case Some(KvCell(v, ver)) if v == owner =>
        KvStateMachine.step(cell, KvOp("lock", "", ver))._1
      case _ => cell
    }
}
