package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate dedups). */
object SparkTestBase {
  /** Repeat-suite stress knobs (the test-mr-many.sh analog; reference
    * `src/main/test-mr-many.sh:15-23` reruns its whole suite N times for
    * flakiness). `tools/stress.sh` drives N sbt trials, varying the
    * shuffle-partition count per trial and offsetting every suite-local
    * RNG seed — same assertions, different schedules/layouts each trial.
    */
  val stressSeed: Int =
    sys.env.get("SPARK_GRAFT_STRESS_SEED").flatMap(_.toIntOption).getOrElse(0)
  private val stressPartitions: String =
    sys.env.get("SPARK_GRAFT_STRESS_PARTITIONS")
      .flatMap(_.toIntOption).map(_.toString).getOrElse("8")

  /** Count that MATERIALIZES every column before counting. A plain
    * `count()` prunes ALL columns, so a scan that can plan but not read
    * (the round-9 field-id crash class: `FAILED_READ_FILE` only when a
    * real column is decoded) passes it silently. Routing read-path
    * assertions through `df.mcount()` forces one xxhash64 over every
    * field of every row — any column the scan cannot decode now fails
    * the assertion instead of hiding behind pruning.
    */
  implicit class MaterializedDf(private val df: org.apache.spark.sql.Dataset[_]) {
    def mcount(): Long = {
      import org.apache.spark.sql.functions._
      val d = df.toDF()
      if (d.columns.isEmpty) return d.count()
      val cols = d.schema.fields.toIndexedSeq.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.MapType => to_json(d(f.name))
          case _ => d(f.name)
        }
      }
      val r = d.select(count(lit(1)).as("n"),
        bit_xor(xxhash64(cols: _*)).as("_h")).collect()(0)
      r.getLong(0)
    }
  }

  // local[4,2]: 4 threads, maxFailures=2 — lets CrashRecoverySpec inject a
  // first-attempt task failure (the reference's crash suite, E11) without
  // failing the job; harmless for every other suite.
  lazy val spark: SparkSession = Sessions.local("graft-tests",
    "spark.master" -> "local[4,2]",
    "spark.sql.shuffle.partitions" -> stressPartitions)
}
