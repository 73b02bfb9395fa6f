package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator/query from SURVEY.md §2's inventory: the Spark
  * formulation plus (when SQL-expressible) the equivalent DuckDB oracle SQL
  * the driver runs over the same parquet tables. Column names/types must match
  * between the two — the driver's compare sorts columns by name and hashes
  * values.
  *
  * Determinism rules used throughout:
  *  - every double aggregate is `round(..., k)` on BOTH sides, so engine
  *    summation-order differences (~1e-12 relative) can't flip the hash;
  *  - every top-k / window rank orders by the ROUNDED measure with an id
  *    tie-break, so near-equal measures rank identically on both engines;
  *  - timestamps never appear raw in output — always `epoch` bigints or
  *    formatted strings — avoiding tz/precision representation mismatches;
  *  - DuckDB integer sums are cast `::BIGINT` (its SUM(int) is HUGEINT).
  */
final case class Q(
    name: String,
    doc: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Q {
  /** Materialize a subtree that downstream operators reference more than
    * once (shingle explosions, normalized vectors). The posture follows
    * the SparkContext's checkpoint directory, a deployment setting Spark
    * itself owns (`spark.checkpoint.dir`, applied at context start, or
    * `SparkContext.setCheckpointDir`):
    *
    *  - a checkpoint dir is set: `df.checkpoint()`, a reliable checkpoint
    *    to that dir (HDFS/object store on a cluster). It survives executor
    *    loss; the cluster-production posture.
    *  - none is set: `df.localCheckpoint(eager = true,
    *    MEMORY_AND_DISK_SER)`, executor-local, query-scoped and
    *    cleaner-managed. Right for local mode and the Verify/Bench sweeps;
    *    NOT replicated, so on a multi-node cluster losing an executor kills
    *    the query instead of recomputing it.
    *
    * Both are eager and both cut lineage. The local posture's blocks are
    * SERIALIZED: UnsafeRow bytes pack into one buffer per partition, and
    * both the memory and disk forms route through the block codec when
    * `spark.rdd.compress=true`. The round-12 g100 pagerank probe showed
    * the deserialized level's two failure terms on |E|-scale frames: disk
    * overflow written uncompressed, and (with `rdd.compress` forced) the
    * heap term of 32 tasks' buffers on top of deserialized cached rows.
    *
    * Inside [[inlineScope]] (tests only) this is a pass-through that
    * leaves the subtree inline, the semantics reference every posture
    * must reproduce.
    */
  def materialize(df: DataFrame): DataFrame =
    if (inlined.value) df else materializeLoop(df)

  /** Materialization for ITERATIVE-loop bodies: [[materialize]]'s posture,
    * but it ALWAYS cuts lineage, [[inlineScope]] included. A convergence
    * loop whose rounds self-join re-doubles the logical subtree every
    * iteration, so an inline body would hand the optimizer an
    * exponentially growing plan.
    */
  def materializeLoop(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val out = df.checkpoint()
      out.queryExecution.logical
        .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
        .flatMap(_.getCheckpointFile).foreach(checkpointFiles.add)
      out
    } else df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** The reliable checkpoint files written since the last
    * [[releaseMaterialized]], which deletes them.
    */
  private val checkpointFiles = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** [[materialize]] plus the frame's ROW COUNT, in one action (round 14):
    * several queries need |frame| right after materializing (quantizer
    * split-bits, teleport mass), and a separate `.count()` is one more
    * driver-planned, sequentially-scheduled job per query. Both postures
    * are eager, so an Observation's CollectMetrics accumulator fires on
    * the materialization job itself and the count is free. Inside
    * [[inlineScope]] nothing runs until an action, so there the count is
    * its own job.
    */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    if (inlined.value) (df, df.count())
    else {
      val obs = Observation()
      val out = materialize(df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get("n").asInstanceOf[Long])
    }
  }

  private val inlined = new scala.util.DynamicVariable(false)

  /** Builds `body` with [[materialize]] and [[materializeCounted]] as
    * pass-throughs, so plan sweeps see every materialized subtree inline
    * and result checks get a lineage-only reference. Query construction
    * runs on the calling thread, which is the scope's extent.
    */
  private[graft] def inlineScope[T](body: => T): T =
    inlined.withValue(true)(body)

  /** Release every materialized frame of the session — the per-query
    * cleanup hook for many-query sweeps (Bench, Verify, long-lived
    * sessions running independent queries back to back).
    *
    * Why this exists (round 14, guide §5 "unpersist when done"):
    * `localCheckpoint` RDDs are cleaner-managed — their blocks are freed
    * only after the DRIVER's GC collects the RDD object and the async
    * ContextCleaner processes the weak reference. A 146-query bench
    * sweep (x3 repeats, each repeat re-building every materialized
    * frame) allocates hundreds of checkpointed RDDs whose blocks pile
    * up in the shared local-mode heap for the driver GC's convenience,
    * not the workload's. Measured on the r14 baseline sweep at
    * local[32]: the frozen calibration yardstick ran 6.95 s at sweep
    * start and 28.2 s at sweep end — a 4x in-JVM slowdown from
    * allocation/GC pressure that lands exactly on the late-sweep,
    * allocation-heavy queries (the r13 "32-core regression family").
    * A periodic System.gc() (spark.cleaner.periodicGC.interval=30s)
    * halves the end-state drift but stalls timed queries with full
    * GCs; dropping the dead blocks explicitly does neither.
    *
    * Reliable checkpoints are files, which Spark deletes only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on (it is off
    * by default), so this deletes the ones [[materializeLoop]] wrote: one
    * sf0.01 Verify sweep with a checkpoint dir otherwise leaves 129
    * `rdd-*` dirs behind.
    *
    * Safe by construction: materialized frames are query-scoped (every
    * query invocation rebuilds its own), so between queries no live
    * plan references them.
    */
  def releaseMaterialized(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Iterator.continually(checkpointFiles.poll()).takeWhile(_ != null).foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
    }
  }
}

object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, round}

  /** Epsilon-shifted 2-decimal rounding. Spark rounds doubles HALF_UP on the
    * decimal string; DuckDB rounds on the binary double — they disagree
    * exactly on `.xx5` boundaries (e.g. avg of cent-valued prices). The
    * +1e-6 shift (≫ engine float noise ~1e-9, ≪ data granularity 0.005)
    * pushes every boundary case to round the same way on both engines. The
    * oracle SQL applies the identical shift.
    */
  def r2e(c: Column): Column = round(c + lit(1e-6), 2)

  /** Same for 4 decimals (similarity scores; boundary 5e-5 vs shift 1e-8). */
  def r4e(c: Column): Column = round(c + lit(1e-8), 4)
}

object Tables {
  /** Every testdata table (TESTDATA.md). Single source of truth for the
    * Sql CLI's view registration and Bench's warmup scan — a table added
    * here is automatically warmed/registered everywhere.
    */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** [[t]] routed through a deployment-adaptive fan-out for the
    * EXPANSION/COMPUTE-HEAVY consumers (round 13, guide §2.5 "input
    * skew"): a table whose consumer does far more work per input byte
    * than the scan itself (suffix/shingle explosion, per-row regex or
    * codec decode, vector flops) must not inherit its parallelism from
    * INPUT BYTES — a single-row-group parquet file is one split no
    * matter how small `maxPartitionBytes` goes, so at the bench SFs the
    * downstream map stage ran as ONE task while 31 cores idled
    * (measured: substringCensus 7.96 → 3.05 s min-of-3 from
    * repartition(32) alone; jstack showed 31/32 executor threads parked
    * through the explode+substring stage). When the table supplies
    * fewer natural splits than the machine has cores, one exchange of
    * the raw (pre-explosion — the cheapest the query will ever touch)
    * bytes spreads the work; at scale, where inputs arrive as thousands
    * of splits, this is a PASS-THROUGH with zero added exchange.
    * Round-robin repartition is deterministic under retries
    * (sortBeforeRepartition, SPARK-23207).
    *
    * The split estimate is size-based (one FileSystem metadata call —
    * not `.rdd` planning, measured ~0.13 s per call, too dear for light
    * queries) and CONSERVATIVE: a large single-row-group file counts as
    * size/splitBytes even though Spark can't actually split it, so
    * mid-scale single-file layouts may under-fan; multi-file layouts
    * are estimated exactly (modulo open-cost padding, which only raises
    * the true split count further toward pass-through).
    */
  def fanned(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Throwable => Long.MaxValue } // unknown: assume wide
    val splitBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val naturalSplits = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
    if (naturalSplits >= target) df else df.repartition(target)
  }

  /** All tables ship as single parquet files per TESTDATA.md.
    *
    * Deliberately BARE scans (round 13): an A/B sweep that routed the
    * corpus tables through [[Q.fanout]] here showed the per-scan
    * overhead (one extra exchange ≈ 0.1 s + `.rdd` planning ≈ 0.13 s,
    * measured) regressing every sub-second consumer while only the
    * expansion-heavy ones won — fan-out is applied at those call sites
    * instead, where the builder knows work-per-input-byte is large.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` normalization — the driver's generator has shipped this
    * column in different physical shapes across rounds, and every query
    * assumes one logical type (session-tz TIMESTAMP, castable to double
    * seconds):
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright.
    *    Read nanos as long (legacy conf) and convert with integer `div` —
    *    NOT `/`, which would round-trip the int64 nanos through a double
    *    and lose sub-second precision.
    *  - TIMESTAMP(MICROS) without tz metadata (pandas-written): Spark
    *    reads TIMESTAMP_NTZ, which Spark 4 refuses to cast to double.
    *    Cast to session-tz TIMESTAMP — the session is pinned UTC
    *    everywhere (Sessions/Verify/Bench), so the wall-clock value is
    *    preserved and matches DuckDB's naive-as-UTC `epoch()` reading.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
