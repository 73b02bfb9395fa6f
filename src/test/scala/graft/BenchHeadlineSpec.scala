package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench.headline is filtered against SparkEntry.queries before running —
  * a typo'd name would silently vanish from the benchmark instead of
  * failing. This pins every headline name to a declared query.
  */
class BenchHeadlineSpec extends AnyFunSuite {
  test("every bench headline name is a declared query") {
    val declared = SparkEntry.queries.keySet
    val missing = Bench.headline.filterNot(declared.contains)
    assert(missing.isEmpty, s"headline names not declared: $missing")
    val dupes = Bench.headline.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate headline names: $dupes")
  }

  test("declared-query census matches the documented count") {
    // README/SURVEY cite these numbers; they drifted twice in round 6 as
    // queries landed. Pinning them here means adding a query without
    // updating the docs (or vice versa) fails the build instead of
    // silently disagreeing with the contract. Update BOTH on change.
    // Round 12: +1 query (sim_topk_hier_snap) and EVERY declared query
    // now carries an oracle (q_approx_distinct_users's emits its error
    // bound as the oracled value) — the board has no no_oracle cell left.
    assert(SparkEntry.queries.size == 183,
      s"declared queries: ${SparkEntry.queries.size}, docs say 183")
    assert(SparkEntry.oracleSql.size == 183,
      s"oracled queries: ${SparkEntry.oracleSql.size}, docs say 183")
  }

  test("per-query task counting: the listener counts every task end") {
    // VERDICT r13 #7: the bench artifact carries a `tasks` count per
    // query (delta of this counter over the last timed repeat) so
    // serial-by-design (a zero-exchange decode over a one-split scan)
    // is distinguishable from serial-by-bug without thread-dump
    // archaeology. Pin the counter's mechanism: task-end events
    // increment it by exactly the number of tasks the job ran.
    val spark = SparkTestBase.spark
    val l = new Bench.TaskCountListener
    spark.sparkContext.addSparkListener(l)
    try {
      org.apache.spark.GraftSparkShim.waitListenerBusEmpty(
        spark.sparkContext, 30000L)
      val before = l.tasks
      val parts = 7
      spark.range(0, 1000, 1, parts).toDF("id")
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.GraftSparkShim.waitListenerBusEmpty(
        spark.sparkContext, 30000L)
      assert(l.tasks - before == parts,
        s"expected exactly $parts task ends, got ${l.tasks - before}")
      // The same listener carries the spill/shuffle columns: a map-only
      // job writes no shuffle bytes, a job with an exchange does.
      def shuffleWritten(job: => Unit): Long = {
        val b = l.snapshot()(3)
        job
        org.apache.spark.GraftSparkShim.waitListenerBusEmpty(
          spark.sparkContext, 30000L)
        l.snapshot()(3) - b
      }
      assert(shuffleWritten(spark.range(0, 1000, 1, parts)
        .write.format("noop").mode("overwrite").save()) == 0L)
      assert(shuffleWritten(spark.range(0, 1000, 1, parts)
        .repartition(3).write.format("noop").mode("overwrite").save()) > 0L)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
