package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-readiness proof for runtime filter pushdown: when a large scan
  * joins a SELECTIVE small side that is not broadcastable, Spark can
  * inject a Bloom filter built from the small side's join keys into the
  * large side's scan stage (`BloomFilterMightContain` /
  * `bloom_filter_agg`) — rows that cannot match are dropped BEFORE the
  * shuffle, the difference between shuffling 100 TB and shuffling the
  * matching fraction. This spec pins the config surface and proves the
  * filter actually lands in the plan for the join shape the library's
  * fact-dim queries use.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a selective join injects a bloom filter into the fact-side plan") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val prior = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Thresholds scaled down to test-sized data (defaults are 10 MB
      // creation / 10 GB application).
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // No broadcast: a broadcast join gets no bloom filter (it already
      // prunes via the hash relation); force the shuffle-join shape the
      // filter exists for.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val dir = TestDirs.create("graft-rf").toString
      // Fact: 200k rows over 10k keys; dim: 50 keys after a selective
      // filter — parquet-backed so the optimizer sees real scan sizes.
      spark.range(0, 200000)
        .select((col("id") % 10000).as("k"), md5(col("id").cast("string")).as("payload"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(0, 10000)
        .select(col("id").as("k"), (col("id") % 200).as("grp"))
        .write.mode("overwrite").parquet(s"$dir/dim")

      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("grp") === 7)
      val joined = fact.join(dim, "k").agg(count(lit(1)).as("n"))
      val n = joined.collect().head.getLong(0)
      assert(n == 50L * 20L, s"unexpected join cardinality $n")

      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("bloom_filter") ||
        planStr.contains("BloomFilterMightContain") ||
        planStr.contains("might_contain"),
        s"no runtime bloom filter in the fact-side plan:\n$planStr")
    } finally {
      prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
  }
}
