package graft.state

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** S5 — the replicated-state-machine layer (SURVEY §2.3 S5): the reference's
  * `rsm.Submit(op)` orders client ops through consensus and applies each
  * committed log entry exactly once to a server implementing
  * `StateMachine{DoOp, Snapshot, Restore}` (src/kvraft1/rsm/rsm.go:30-34,
  * 82-90; the bodies are course stubs — the CONTRACT is the spec).
  *
  * Spark-native re-expression: consensus itself (leader election, quorum
  * replication) is the cluster manager's job in Spark's world, but the part
  * of the RSM contract that IS data-plane semantics re-expresses cleanly:
  *
  *  - the COMMITTED LOG is a dataset of `(group, index, clientId, seq, op)`
  *    rows — `index` is the Raft log index (total order within a group),
  *    one RSM instance per `group` (the shardkv deployment shape: each
  *    replica group runs its own RSM over its own log);
  *  - APPLY is a deterministic fold in index order. Distribution is
  *    Spark's sorted groups: `groupBy(group)` then
  *    `flatMapSortedGroups(index)` shuffles by group and hands each
  *    group's log to the sequential fold as one index-ordered iterator —
  *    per-group order is the only order the contract needs, so groups
  *    scale out with no cross-group coordination;
  *  - EXACTLY-ONCE: a committed entry can be re-submitted (leader change →
  *    client resend → both copies commit). The standard RSM construction
  *    suppresses the re-apply with a client session table — `clientId →
  *    (lastSeq, lastResult)` — returning the CACHED result instead of
  *    re-running DoOp. (In kvraft1 the versioned CAS also defends the
  *    STATE, turning a re-apply into ErrVersion/ErrMaybe,
  *    src/kvraft1/client.go:38-48 — the session layer additionally
  *    preserves the RESULT, which a bare CAS reject cannot.)
  *  - SNAPSHOT/RESTORE: `Snapshot() []byte` / `Restore([]byte)` become a
  *    deterministic byte codec over (state, sessions, counters). The
  *    executable contract, proven in RsmSpec: for every prefix length k,
  *    `restore(snapshot(fold(log[0..k]))) then fold(log[k..])` equals the
  *    full fold — the lab's "snapshot + suffix replay ≡ full replay"
  *    compaction property (rsm.go:47-56: snapshot when the log grows big,
  *    then GC the prefix).
  */
trait RsmMachine[S, O, R] {
  /** Initial server state (empty store). */
  def init: S

  /** The server's DoOp (rsm.go:31): execute one committed op, returning the
    * next state and the client-visible result. Must be deterministic — the
    * whole point of the RSM is that every replica computes the same thing.
    */
  def doOp(state: S, op: O): (S, R)
}

/** One committed log entry: `index` totally orders a group's log; `(clientId,
  * seq)` identifies the client request for at-most-once apply. Clients are
  * sequential (one outstanding op, src/kvsrv1/client.go retry loop), so a
  * re-send always carries the CURRENT seq — `seq <= lastSeq` is a duplicate.
  */
case class RsmEntry[O](index: Long, clientId: Long, seq: Long, op: O)

/** The full RSM server image: machine state + client session table +
  * apply accounting. This whole record is what Snapshot captures — restoring
  * state WITHOUT the sessions would re-apply duplicates after a restart,
  * which is exactly the bug the lab's snapshot tests hunt.
  */
case class RsmImage[S, R](state: S, sessions: Map[Long, (Long, R)],
    nApplied: Long, nSuppressed: Long)

object Rsm {
  def start[S, O, R](m: RsmMachine[S, O, R]): RsmImage[S, R] =
    RsmImage(m.init, Map.empty, 0L, 0L)

  /** Apply one committed entry (the Submit→apply path, rsm.go:82-90):
    * duplicates return the cached result and leave state untouched.
    * Returns (next image, result, wasDuplicate).
    */
  def applyEntry[S, O, R](m: RsmMachine[S, O, R], img: RsmImage[S, R],
      e: RsmEntry[O]): (RsmImage[S, R], R, Boolean) =
    img.sessions.get(e.clientId) match {
      case Some((lastSeq, lastRes)) if e.seq <= lastSeq =>
        (img.copy(nSuppressed = img.nSuppressed + 1L), lastRes, true)
      case _ =>
        val (s2, r) = m.doOp(img.state, e.op)
        (RsmImage(s2, img.sessions.updated(e.clientId, (e.seq, r)),
          img.nApplied + 1L, img.nSuppressed), r, false)
    }

  /** Replay an index-ordered log from an image (fresh or restored). */
  def replay[S, O, R](m: RsmMachine[S, O, R], from: RsmImage[S, R],
      log: Iterator[RsmEntry[O]]): RsmImage[S, R] =
    log.foldLeft(from)((img, e) => applyEntry(m, img, e)._1)
}

/** The kvraft state machine (SURVEY §2.3: KV on the RSM): DoOp is the S1/S2
  * versioned-CAS step — the same pure transition that drives KvBatch,
  * KvStream and the porcupine-model specs — so "kvraft = kvsrv semantics
  * replicated through the RSM" holds here exactly as in the reference.
  * Result = (err, version-after).
  */
object KvRsmMachine
    extends RsmMachine[Map[String, KvCell], KvOp, (String, Long)] {
  def init: Map[String, KvCell] = Map.empty
  def doOp(state: Map[String, KvCell], op: KvOp)
      : (Map[String, KvCell], (String, Long)) = {
    val (cell2, err) = KvStateMachine.step(state.get(op.key), op)
    val next = cell2.fold(state)(c => state.updated(op.key, c))
    (next, (err, next.get(op.key).map(_.version).getOrElse(0L)))
  }
}

/** Deterministic byte codec for the KV machine's full server image — the
  * `Snapshot() []byte` / `Restore([]byte)` face (rsm.go:32-33). Keys and
  * client ids are written in sorted order so equal images encode to equal
  * bytes (snapshot equality is byte equality, which RsmSpec exploits).
  */
object KvRsmSnapshot {
  type Img = RsmImage[Map[String, KvCell], (String, Long)]

  def encode(img: Img): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(img.nApplied)
    out.writeLong(img.nSuppressed)
    out.writeInt(img.state.size)
    img.state.toSeq.sortBy(_._1).foreach { case (k, KvCell(v, ver)) =>
      out.writeUTF(k); out.writeUTF(v); out.writeLong(ver)
    }
    out.writeInt(img.sessions.size)
    img.sessions.toSeq.sortBy(_._1).foreach {
      case (client, (seq, (err, ver))) =>
        out.writeLong(client); out.writeLong(seq)
        out.writeUTF(err); out.writeLong(ver)
    }
    out.flush()
    bos.toByteArray
  }

  def decode(bytes: Array[Byte]): Img = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val nApplied = in.readLong()
    val nSuppressed = in.readLong()
    val state = (0 until in.readInt()).map { _ =>
      val k = in.readUTF(); val v = in.readUTF(); val ver = in.readLong()
      k -> KvCell(v, ver)
    }.toMap
    val sessions = (0 until in.readInt()).map { _ =>
      val client = in.readLong(); val seq = in.readLong()
      val err = in.readUTF(); val ver = in.readLong()
      client -> (seq, (err, ver))
    }.toMap
    RsmImage(state, sessions, nApplied, nSuppressed)
  }
}

/** One committed KV log row on the streaming wire (the concrete KvRsmMachine
  * instance's entry shape, flattened for encoders).
  */
case class RsmKvLogRow(grp: Long, index: Long, clientId: Long, seq: Long,
    key: String, value: String, version: Long)

case class RsmGroupProgress(grp: Long, nKeys: Long, nApplied: Long,
    nSuppressed: Long, versionSum: Long)

/** The RSM's LIVE-SERVER face: each micro-batch delivers a slab of newly
  * committed entries per group, and the per-group GroupState value is
  * LITERALLY the `Snapshot()` bytes — every batch is Restore → apply slab →
  * Snapshot, so a query restart (or RocksDB state-store recovery) resumes
  * from exactly the lab's persister contract
  * (src/kvraft1/rsm/rsm.go:47-56). Sessions ride inside the bytes, so a
  * resend arriving in a LATER micro-batch than its original is still
  * suppressed — the property RsmStreamSpec pins.
  */
object RsmStream {
  def update(grp: Long, rows: Iterator[RsmKvLogRow],
      state: GroupState[Array[Byte]]): RsmGroupProgress = {
    val from = state.getOption.map(KvRsmSnapshot.decode)
      .getOrElse(Rsm.start(KvRsmMachine))
    // Sort within the micro-batch: group order is nondeterministic.
    val img = Rsm.replay(KvRsmMachine, from,
      rows.toSeq.sortBy(_.index).iterator.map(r => RsmEntry(r.index,
        r.clientId, r.seq, KvOp(r.key, r.value, r.version, seq = r.index))))
    state.update(KvRsmSnapshot.encode(img))
    RsmGroupProgress(grp, img.state.size.toLong, img.nApplied,
      img.nSuppressed, img.state.valuesIterator.map(_.version).sum)
  }

  def pipeline(spark: SparkSession, rows: Dataset[RsmKvLogRow])
      : Dataset[RsmGroupProgress] = {
    import spark.implicits._
    rows.groupByKey(_.grp)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update _)
  }
}
