package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.state._

/** CAS semantics to the test-defined spec of the stubbed KV lab
  * (src/kvsrv1/rpc/rpc.go:5-39, src/models1/kv.go:49-67,
  * src/kvsrv1/kvsrv_test.go:14-47). Property checks use seeded randoms
  * (the scalatest/scalacheck bridge artifact is not in the offline cache).
  */
class KvStateMachineSpec extends AnyFunSuite {
  import KvTypes._
  import KvStateMachine.step

  test("version 0 creates a missing key at version 1") {
    val (c, e) = step(None, KvOp("k", "v1", 0))
    assert(e == OK && c.contains(KvCell("v1", 1)))
  }

  test("put to missing key with version>0 is ErrNoKey") {
    val (c, e) = step(None, KvOp("k", "v", 3))
    assert(e == ErrNoKey && c.isEmpty)
  }

  test("matching version applies and increments; mismatch rejects") {
    val cell = Some(KvCell("v1", 1))
    val (c2, e2) = step(cell, KvOp("k", "v2", 1))
    assert(e2 == OK && c2.contains(KvCell("v2", 2)))
    val (c3, e3) = step(c2, KvOp("k", "v3", 1))
    assert(e3 == ErrVersion && c3 == c2)
  }

  test("retried put with stale version is ErrMaybe (at-most-once ambiguity)") {
    val cell = Some(KvCell("v", 5))
    val (_, e) = step(cell, KvOp("k", "w", 4, retried = true))
    assert(e == ErrMaybe)
  }

  test("property: final version == applied count over random op logs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val ops = Seq.fill(rnd.nextInt(40))(
        KvOp("k", s"v${rnd.nextInt(100)}", rnd.nextInt(7).toLong,
          rnd.nextBoolean()))
      val r = KvStateMachine.replayKey("k", ops.iterator)
      assert(r.version == r.nApplied)
      assert(r.nApplied + r.nRejected == ops.size)
    }
  }

  test("property: correct-version ops always apply; last write wins") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val values = Seq.fill(rnd.nextInt(30))(s"v${rnd.nextInt(1000)}")
      var cell: Option[KvCell] = None
      values.foreach { v =>
        val ver = cell.map(_.version).getOrElse(0L)
        val (next, err) = step(cell, KvOp("k", v, ver))
        assert(err == OK)
        cell = next
      }
      assert(cell.map(_.version).getOrElse(0L) == values.size.toLong)
      if (values.nonEmpty) assert(cell.get.value == values.last)
    }
  }

  test("distributed replay streams a 200k-op hot key exactly (sorted groups)") {
    // The sorted-group path must fold a pathologically hot key's ordered
    // log without materializing it (it arrives as one seq-sorted group):
    // 200k correct-version puts to one key interleaved with a cold key,
    // shuffled input order, exact summary out.
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val n = 200000
    val hot = (0 until n).map(i => KvOp("hot", s"v$i", i.toLong, seq = i.toLong))
    val cold = Seq(KvOp("cold", "x", 0L, seq = 0L),
      KvOp("cold", "y", 5L, seq = 1L)) // version mismatch: rejected
    val ops = new scala.util.Random(11).shuffle(hot ++ cold)
    val results = KvBatch.replay(spark, ops.toDS())
      .collect().map(r => r.key -> r).toMap
    assert(results("hot") ==
      KvResult("hot", s"v${n - 1}", n.toLong, n.toLong, 0L))
    assert(results("cold") == KvResult("cold", "x", 1L, 1L, 1L))
  }

  test("property: distributed replay equals per-key replay over many keys") {
    // Group boundaries: 300 keys' logs of correct-version, stale and
    // retried puts, shuffled and spread over 1, 3 and 17 input partitions,
    // must each fold exactly their own key's ops in seq order.
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val rnd = new scala.util.Random(31 + SparkTestBase.stressSeed)
    var seq = 0L
    val ops = (0 until 300).flatMap { k =>
      var version = 0L
      Seq.fill(1 + rnd.nextInt(20)) {
        seq += 1
        val op = rnd.nextInt(10) match {
          case n if n < 6 => KvOp(s"k$k", s"v$seq", version, seq = seq)
          case n => KvOp(s"k$k", s"v$seq", version + rnd.nextInt(5) - 2,
            retried = n >= 8, seq = seq)
        }
        if (op.version == version) version += 1
        op
      }
    }
    val expected = ops.groupBy(_.key).map { case (k, log) =>
      KvStateMachine.replayKey(k, log.sortBy(_.seq).iterator)
    }.toSet
    assert(expected.size == 300)
    assert(expected.exists(_.nRejected > 0) && expected.exists(_.nApplied > 1))
    Seq(1, 3, 17).foreach { parts =>
      val input = spark.sparkContext.parallelize(rnd.shuffle(ops), parts).toDS()
      val got = KvBatch.replay(spark, input).collect().toSet
      assert(got == expected, s"$parts input partitions")
    }
  }

  test("lock: mutual exclusion and owner-only release") {
    val (c1, ok1) = KvLock.tryAcquire(None, "alice")
    assert(ok1)
    val (c2, ok2) = KvLock.tryAcquire(c1, "bob")
    assert(!ok2 && c2 == c1)
    val c3 = KvLock.release(c2, "bob") // not the owner: no-op
    assert(c3 == c2)
    val c4 = KvLock.release(c3, "alice")
    val (_, ok5) = KvLock.tryAcquire(c4, "bob")
    assert(ok5)
  }
}
