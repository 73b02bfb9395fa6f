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

  test("TaskLog logs the tasks, shuffle bytes and jobs of its block only") {
    // Bench's `tasks`, `spill` and `jobs` rows are read from a TaskLog of
    // each query's last timed run.
    val spark = SparkTestBase.spark
    val sc = spark.sparkContext
    val parts = 7
    def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
      df.write.format("noop").mode("overwrite").save()
    def shuffleWritten(log: TaskLog): Long =
      log.tasks.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum

    val (_, mapOnly) = TaskLog.of(sc)(noop(spark.range(0, 1000, 1, parts)))
    assert(mapOnly.complete)
    assert(mapOnly.tasks.size == parts,
      s"expected exactly $parts task ends, got ${mapOnly.tasks.size}")
    assert(shuffleWritten(mapOnly) == 0L)
    val (_, shuffled) = TaskLog.of(sc)(noop(spark.range(0, 1000, 1, parts).repartition(3)))
    assert(shuffleWritten(shuffled) > 0L)

    // A thread started before the block carries no job group, so the job
    // it runs while the block's listener is registered is not logged.
    val outside = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      outside.submit(() => 0L).get()
      val (n, log) = TaskLog.of(sc) {
        assert(outside.submit(() => sc.parallelize(1 to 10, 3).count()).get() == 10L)
        (1 to 3).map(_ => sc.parallelize(1 to 10, 2).count()).sum
      }
      assert(n == 30L)
      assert(log.jobs.size == 3, log.jobs)
      assert(log.tasks.size == 6, log.tasks)
      assert(log.stages.size == 3)
      assert(log.jobSeconds > 0.0 &&
        log.jobSeconds <= log.jobs.map { case (a, b) => b - a }.sum / 1e3)
    } finally outside.shutdown()
  }
}
