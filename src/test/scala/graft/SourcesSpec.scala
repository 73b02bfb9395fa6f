package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink breadth: the engine must round-trip its tables through the
  * formats a user of the reference would ingest from or export to —
  * parquet (partitioned, with partition pruning on read-back), CSV with
  * header/schema, and JSON lines (the reference's own wire codec,
  * src/mr/worker.go:121) — losslessly.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.queries.Tables.t(spark, dir, "documents")
    .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .collect().map(_.mkString("|")).toSet

  test("partitioned parquet sink round-trips and prunes partitions on read") {
    val out = TestDirs.create("graft-sink").toString
    docs.write.mode("overwrite").partitionBy("source").parquet(out)
    val back = spark.read.parquet(out)
    assert(canon(back) == canon(docs))
    // Partition pruning: a source-filtered read must list only that
    // partition's directory (visible as PartitionFilters in the scan).
    val plan = back.filter(col("source") === "src1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"),
      s"source filter did not reach partition pruning:\n$plan")
    val oneSource = docs.filter(col("source") === "src1").count()
    assert(back.filter(col("source") === "src1").count() == oneSource)
  }

  test("csv sink with header round-trips under an explicit schema") {
    val out = TestDirs.create("graft-csv").toString
    docs.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .schema("doc_id bigint, source string, lang string, n_chars bigint")
      .csv(out)
    assert(canon(back) == canon(docs))
  }

  test("json-lines sink round-trips (the reference's wire codec)") {
    val out = TestDirs.create("graft-json").toString
    docs.write.mode("overwrite").json(out)
    val back = spark.read
      .schema("doc_id bigint, source string, lang string, n_chars bigint")
      .json(out)
    assert(canon(back) == canon(docs))
  }
}
