package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Q.materialize's two postures: the same multi-reference query must
  * produce identical results under the local checkpoint (no checkpoint dir
  * on the context, the local default) and the reliable checkpoint (a
  * checkpoint dir set, cluster production), and both must equal the
  * inline reference built under `Q.inlineScope` (pure re-evaluation, the
  * semantics baseline).
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(q: Q): Set[String] =
    q.run(spark, dir).collect().map(_.mkString("|")).toSet

  /** Runs `f` with a fresh checkpoint dir on the shared context; `null`
    * resets a local-mode context to no dir, so no later suite runs on
    * reliable checkpoints. The dir is deleted afterwards.
    */
  private def withCheckpointDir[T](f: java.io.File => T): T = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try f(ckpt.toFile)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      java.nio.file.Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  /** The `rdd-*` dirs under a checkpoint dir: Spark writes each
    * checkpointed RDD under <dir>/<uuid>/rdd-<id>/.
    */
  private def rddDirs(ckpt: java.io.File): Seq[java.io.File] =
    Option(ckpt.listFiles).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.startsWith("rdd-"))

  private def agreeWithInline(q: Q): Unit = {
    val reference = Q.inlineScope(rows(q))
    assert(reference.nonEmpty)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(rows(q) == reference, "local checkpoint posture")
    withCheckpointDir(_ => assert(rows(q) == reference, "reliable posture"))
  }

  test("all materialization strategies agree on dedup_lsh_verified") {
    agreeWithInline(Dedup.lshVerified)
  }

  test("all strategies agree on the iterative dedup_components loop") {
    // The convergence loop routes through materializeLoop, which cuts
    // lineage even inside Q.inlineScope: an inline self-join would
    // re-double the logical plan every round. This pins posture
    // equivalence for the data-dependent-round-count iterative query
    // (pagerank/label_prop iterate too, but over a fixed round count —
    // the Verify sweeps under both postures cover them end to end).
    agreeWithInline(Dedup.components)
  }

  test("a checkpoint dir routes every materialization path to reliable " +
      "checkpoint files") {
    import org.apache.spark.sql.functions.col
    def frame = spark.range(1234).toDF("id").filter(col("id") % 3 =!= 0)
    withCheckpointDir { ckpt =>
      def written: Set[String] = rddDirs(ckpt)
        .filter(f => Option(f.listFiles).exists(_.exists(_.getName.startsWith("part-"))))
        .map(_.getPath).toSet
      def counted(df: org.apache.spark.sql.DataFrame) = (df, df.count())
      Seq(
        "materialize" -> (() => counted(Q.materialize(frame))),
        "materializeLoop" -> (() => counted(Q.materializeLoop(frame))),
        "materializeCounted" -> (() => Q.materializeCounted(frame))
      ).foreach { case (name, run) =>
        val before = written
        val (df, n) = run()
        assert(written.size == before.size + 1,
          s"$name wrote no reliable checkpoint under $ckpt")
        assert(n == 822L, s"$name: count $n != 822")
        assert(df.collect().length == 822, s"$name: frame lost rows")
      }
    }
  }

  test("releaseMaterialized deletes the reliable checkpoint files") {
    import org.apache.spark.sql.functions.col
    def frame = spark.range(1234).toDF("id").filter(col("id") % 3 =!= 0)
    def entries(ckpt: java.io.File) = Option(ckpt.listFiles).toSeq.flatten
    withCheckpointDir { ckpt =>
      Q.materialize(frame).count()
      Q.materializeLoop(frame).count()
      Q.materializeCounted(frame)
      assert(rddDirs(ckpt).size == 3)
      Q.releaseMaterialized(spark)
      assert(entries(ckpt).isEmpty, s"left behind: ${entries(ckpt)}")
      // The context's <uuid> dir is gone; the next checkpoint makes it
      // again (mkdirs creates parents), and the next release removes it.
      assert(Q.materialize(frame).count() == 822L)
      assert(rddDirs(ckpt).size == 1)
      Q.releaseMaterialized(spark)
      assert(entries(ckpt).isEmpty, s"left behind: ${entries(ckpt)}")
    }
  }

  test("loop materialization caches SERIALIZED blocks by default") {
    // Round-12 g100 finding: pagerank's |E|-scale edge frame DNF'd under
    // the deserialized localCheckpoint default (uncompressed disk
    // overflow under spark.rdd.compress=false; with compression forced,
    // a heap OOM from deserialized cached rows + 32 tasks' buffers).
    // The fix is the storage level, so this spec pins the level actually
    // used on BOTH materialization paths — a silent revert to
    // deserialized blocks would re-open the scale hole without failing
    // any correctness oracle.
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions.lit
    def newlyPersistedLevels(f: => Unit): Set[StorageLevel] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      f
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before(id) }
        .values.map(_.getStorageLevel).toSet
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = spark.range(1000).toDF("id").withColumn("x", lit(1))
    val loopLevels = newlyPersistedLevels { Q.materializeLoop(df).count() }
    assert(loopLevels == Set(StorageLevel.MEMORY_AND_DISK_SER),
      s"materializeLoop must cache serialized+disk blocks, got $loopLevels")
    val matLevels = newlyPersistedLevels { Q.materialize(df).count() }
    assert(matLevels == Set(StorageLevel.MEMORY_AND_DISK_SER),
      s"materialize must cache serialized+disk blocks, got $matLevels")
  }

  test("materializeCounted returns the frame's exact count under every " +
      "strategy") {
    // Round 14: the count rides the materialization job as an observed
    // metric under both (eager) postures, and is its own job inside
    // Q.inlineScope. Each must agree with the frame's own count, and the
    // returned frame must still carry the full row set (the observation
    // projects nothing away).
    import org.apache.spark.sql.functions.col
    def check(posture: String): Unit = {
      val (df, n) = Q.materializeCounted(
        spark.range(1234).toDF("id").filter(col("id") % 3 =!= 0))
      assert(n == 822L, s"$posture: observed count $n != 822")
      assert(df.count() == 822L, s"$posture: frame count mismatch")
    }
    check("local checkpoint")
    withCheckpointDir(_ => check("reliable checkpoint"))
    Q.inlineScope(check("inline"))
  }

  test("observed convergence drives a multi-round chain-graph fixpoint") {
    // Round 14: the components solver's set-equality convergence check
    // rides INSIDE each round's checkpoint job (Observation metrics on
    // the eager action) instead of running as its own join job. A path
    // graph 0-1-2-...-19 forces SEVERAL star rounds (diameter 19), so
    // this exercises repeated per-round observations and the observed
    // first-round count seed; the fixpoint must still be one component
    // labeled by its minimum.
    import spark.implicits._
    val chain = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = Dedup.minLabelComponents(spark, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 19L).toSet)
    assert(labels.values.forall(_ == 0L),
      s"chain must collapse to min-label 0, got ${labels.filter(_._2 != 0)}")
  }
}
