package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-behavior checks: approximation error bounds, salting losslessness,
  * and bucketed co-located joins (shuffle-free plan after bucketBy).
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct within 10% of exact per event type") {
    // The query now EMITS the bound as its oracled value
    // (approx_within_10pct); this spec pins that it holds on every row
    // and that the exact side is sane.
    val rows = SparkEntry.queries("q_approx_distinct_users")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0)
      assert(r.getAs[Boolean]("approx_within_10pct"),
        s"${r.getAs[String]("event_type")}: approx outside 10% of " +
          s"exact=${r.getAs[Long]("exact_users")}")
    }
  }

  test("salted wordcount equals direct wordcount") {
    val direct = SparkEntry.queries("mr_wordcount")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SparkEntry.queries("q_salted_wordcount")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct == salted)
  }

  test("partitioned write enables partition pruning in the scan") {
    val tmp = TestDirs.create("graft-part").toString
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.withColumn("ship_year", year(col("l_shipdate")))
      .write.partitionBy("ship_year").mode("overwrite").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter(col("ship_year") === 1996)
      .groupBy(col("l_returnflag")).count()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // The pruned read must touch only the 1996 directory's rows.
    val expected = li.filter(year(col("l_shipdate")) === 1996).count()
    val got = pruned.agg(sum(col("count"))).collect().head.getLong(0)
    assert(got == expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    // Uses the default warehouse dir (./spark-warehouse, gitignored):
    // spark.sql.warehouse.dir is a static conf, unsettable per-test.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
    val plan = joined.queryExecution.executedPlan.toString
    // Bucketing co-locates both sides: no ShuffleExchange below the join.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"expected <=1 exchange (agg only), got $shuffles:\n$plan")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }
}
