package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-readiness proof for the skew story: at 100 TB a single hot key
  * (one viral document, one dominant user) turns a hash join's partition
  * into a straggler. Two mitigations ship in this library and this spec
  * exercises both mechanically:
  *
  *  1. AQE skew-join splitting (`q_salted_wordcount` handles skewed AGGS
  *     via salting; JOINS get runtime splitting for free): a sort-merge
  *     join with one key carrying ~100× the rows must come out of AQE
  *     with `isSkew = true` sub-partitions — proving the config surface
  *     this library's sessions run under actually splits stragglers.
  *  2. The salting pattern itself (key ++ salt shard → partial agg →
  *     de-salt) — asserted equal to the unsalted truth.
  */
class SkewJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark

  test("AQE splits a skewed sort-merge join at runtime") {
    import spark.implicits._
    val conf = spark.conf
    val prior = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // Thresholds scaled to a test-sized dataset: a partition is skewed
      // past 5× the median AND 64 KB, split toward 16 KB targets.
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // Force a sort-merge join: broadcast would hide the skew entirely.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // The join output feeds a groupBy, so splitting adds a shuffle the
      // cost check would veto; force it — the straggler costs more than
      // the (already-present ENSURE_REQUIREMENTS) exchange.
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

      // Left: 200k rows on the hot key 0, ~2k on each of 100 cold keys.
      // The md5 payload is INCOMPRESSIBLE and survives the join — map
      // output statistics report compressed sizes, and 200k identical
      // keys alone would LZ4 below any realistic skew threshold.
      val left = spark.range(0, 400000).select(
        when(col("id") < 200000, 0L).otherwise(col("id") % 100 + 1).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val right = spark.range(0, 101).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("name"))
      val joined = left.join(right, "k")
        .groupBy(col("name")).agg(count(lit(1)).as("n"), max(col("pad")).as("mp"))
      val rows = joined.collect()
      assert(rows.map(_.getLong(1)).sum == 400000L)

      // The executed adaptive plan must contain skew-split sub-partitions.
      val plan = joined.queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("isSkew=true") || planStr.contains("skew=true"),
        s"AQE did not mark/split the skewed partition:\n$planStr")
    } finally {
      prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
  }

  test("AQE splits the DECLARED LSH verify join on a planted hot band") {
    // The synthetic-join test above proves the config surface; this one
    // proves the actual declared query: dedup_lsh_verified's exact-verify
    // join (candidate pairs × shingles on doc_id) is the operator a viral
    // near-dup cluster skews at 100 TB. Plant 5 mega-documents (10k
    // unique incompressible tokens each, near-identical bodies) whose
    // doc_ids all hash into ONE shuffle partition of the verify join,
    // run the declared query under cluster-shaped skew confs (SMJ forced,
    // test-scaled thresholds), and require BOTH: AQE marks isSkew=true
    // sub-partitions, AND the result set is identical to the
    // default-conf run — skew handling is a physical rewrite, never a
    // semantic one. The query's oracle is untouched.
    import spark.implicits._
    val conf = spark.conf
    val nShuffle = conf.get("spark.sql.shuffle.partitions").toInt
    // doc_ids that land in the same verify-join partition, computed with
    // the same Murmur3 the exchange uses.
    val hotIds = spark.range(10000, 10400)
      .select(col("id"), pmod(hash(col("id")), lit(nShuffle)).as("p"))
      .filter(col("p") === 0).select(col("id")).collect()
      .map(_.getLong(0)).sorted.take(5)
    assert(hotIds.length == 5, s"need 5 colliding ids, got ${hotIds.length}")
    // Incompressible shared body (map-output sizes are LZ4-compressed;
    // repetitive text would dodge the byte threshold) + a unique tail so
    // the 5 docs are near-dups (J ~ 1), i.e. one LSH band bucket.
    val md = java.security.MessageDigest.getInstance("MD5")
    val body = (0 until 10000).map { i =>
      md.reset()
      md.digest(s"skew:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString(" ")
    val hot = hotIds.toSeq.map(id => (id, s"planted-$id", s"$body tail${id}a tail${id}b"))
    val out = TestDirs.create("graft-skew").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .unionByName(hot.toDF("doc_id", "source", "text"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    def pairs(): Set[(Long, Long)] =
      graft.queries.Dedup.lshVerified.run(spark, out)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = pairs()
    assert(hotIds.combinations(2).forall { case Array(a, b) =>
      truth.contains((a, b)) || truth.contains((b, a))
    }, "planted near-dup pairs missing from the default-conf truth")

    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1048576")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // The candidate side is tiny — broadcast would hide the skew.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Collect df ITSELF (a derived select would leave df's adaptive
      // plan unexecuted and the isSkew markers unset).
      val df = graft.queries.Dedup.lshVerified.run(spark, out)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth,
        s"skew-conf run changed the result: only-skew=${got -- truth}, only-truth=${truth -- got}")
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("isSkew=true") || planStr.contains("skew=true"),
        s"AQE did not split the planted hot partition:\n$planStr")
    } finally {
      prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
  }

  test("salted aggregation equals the unsalted truth on a hot key") {
    import spark.implicits._
    // 100k rows of one hot word + a cold tail; salt into 16 shards,
    // partial-agg per (word, salt), de-salt, compare to direct groupBy.
    val words = spark.range(0, 110000).select(
      when(col("id") < 100000, "hot").otherwise(concat(lit("w"), col("id") % 50))
        .as("word"))
    val salted = words
      .withColumn("salt", pmod(crc32(concat(col("word"), monotonically_increasing_id().cast("string"))), lit(16)))
      .groupBy(col("word"), col("salt")).agg(count(lit(1)).as("c"))
      .groupBy(col("word")).agg(sum(col("c")).as("n"))
    val truth = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val a = salted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = truth.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a("hot") == 100000L)
  }
}
