package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** The bucketed-layout contract: a same-bucket-count equi join needs NO
  * shuffle exchange on either side (the write pre-paid it), while the
  * identical join over plain parquet exchanges both sides — and both
  * produce the same rows. Auto-broadcast is disabled inside these legs:
  * at test SF the dimension side would broadcast and the claim under
  * test (exchange elimination on a SHUFFLE join) would be vacuous.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def withNoBroadcast[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("bucketed equi join plans with zero shuffles; plain parquet " +
      "shuffles both sides; results identical") {
    val tmp = TestDirs.create("graft_bucket_spec").toString
    val tag = tmp.substring(tmp.lastIndexOf('/') + 1)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Bucketing.writeBucketed(li, s"li_$tag", s"$tmp/li", 8, "l_orderkey")
    Bucketing.writeBucketed(ord, s"ord_$tag", s"$tmp/ord", 8, "o_orderkey")

    withNoBroadcast {
      val bucketed = spark.table(s"li_$tag")
        .join(spark.table(s"ord_$tag"),
          col("l_orderkey") === col("o_orderkey"))
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))

      // The load-bearing claim AND its control: same join, same SF, same
      // session — the only difference is the layout.
      assert(shuffles(bucketed) == 0,
        "bucketed join still shuffles:\n" +
          bucketed.queryExecution.executedPlan)
      assert(shuffles(plain) == 2,
        "control is broken — the plain join should exchange both sides")

      // Row-identical: bucket routing reuses the shuffle's hash, so a
      // disagreement here means rows landed in (or joined across) the
      // wrong bucket.
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getDouble(1), r.getString(3))
      assert(bucketed.collect().map(key).sorted.toSeq ==
        plain.collect().map(key).sorted.toSeq)
    }
  }

  test("a bucket-count mismatch falls back to shuffling one side only") {
    val tmp = TestDirs.create("graft_bucket_mis").toString
    val tag = tmp.substring(tmp.lastIndexOf('/') + 1)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Bucketing.writeBucketed(li, s"li_$tag", s"$tmp/li", 8, "l_orderkey")
    Bucketing.writeBucketed(ord, s"ord_$tag", s"$tmp/ord", 4, "o_orderkey")
    withNoBroadcast {
      val joined = spark.table(s"li_$tag")
        .join(spark.table(s"ord_$tag"),
          col("l_orderkey") === col("o_orderkey"))
      // Spark repartitions the coarser side into the finer bucket count
      // (or shuffles one side) — never both: the 8-bucket layout still
      // pays for itself.
      assert(shuffles(joined) == 1,
        "mismatched bucket counts should shuffle exactly one side:\n" +
          joined.queryExecution.executedPlan)
    }
  }
}
