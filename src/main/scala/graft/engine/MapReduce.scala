package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Spark-native restatement of the reference MapReduce runtime
  * (src/mr/worker.go + src/mr/coordinator.go), pipeline
  * E1→E2→E3/E4/E5→E6/E7→E8→E9 from SURVEY.md §2.1:
  *
  *   whole-file scan → user map → FNV hash shuffle (nReduce partitions) →
  *   per-key grouping → user reduce → "key value" text lines.
  *
  * Scheduling concerns E10–E13 (phase barrier, straggler re-execution,
  * completion tracking, worker polling) are Spark built-ins: the shuffle stage
  * boundary is the map/reduce barrier, `spark.task.maxFailures` + speculation
  * replace the 10 s re-execution timer, and the DAG scheduler replaces the
  * coordinator RPC loop.
  *
  * Scale note: `wholeTextFiles` matches the reference's one-map-task-per-file
  * granularity (src/mr/coordinator.go:191-207) and is right for corpus-style
  * inputs (many files ≪ executor memory each). For 100 TB of line-oriented
  * text use [[runLines]] (block-splittable `spark.read.text`) or the
  * relational DataFrame path (`graft.queries` modules), not this faithful
  * whole-file surface.
  */
object MapReduce {

  /** Distributed run, returning (key, reduced-value) pairs.
    *
    * `groupByKey` (not `reduceByKey`) is deliberate: the reference contract
    * hands `reduce` the FULL value list per key (src/mr/worker.go:188-203) —
    * no combiners exist there, and a general `reducef` is not algebraic.
    * Apps that are algebraic can opt into [[runAlgebraic]].
    *
    * `minMapTasks` tunes `wholeTextFiles`'s file-combining: Spark packs
    * small files into shared splits (maxSplitSize = totalBytes/minPartitions);
    * raising it until the split cap is below the smallest file recovers the
    * reference's strict one-map-task-per-file granularity
    * (src/mr/coordinator.go:191-207) — whole files are never split, so map
    * task count can never exceed the file count. The default keeps Spark's
    * size-aware packing, which is what you want at scale.
    */
  def run(spark: SparkSession, app: MRApp, inputGlob: String,
          nReduce: Int = 10, minMapTasks: Int = 2): RDD[(String, String)] =
    shuffleReduce(app, nReduce, spark.sparkContext
      .wholeTextFiles(inputGlob, minMapTasks)
      .flatMap { case (file, contents) =>
        // wholeTextFiles yields URIs (file:/...); apps see plain paths like
        // the reference's os.Args file names (src/main/mrcoordinator.go:23).
        app.map(plainPath(file), contents).map(kv => (kv.key, kv.value))
      })

  /** The tail [[run]] and [[runLines]] share: the mapped pairs cross the
    * FNV shuffle into nReduce partitions and each key's full value list
    * goes to one `reduce` call.
    */
  private def shuffleReduce(app: MRApp, nReduce: Int,
      pairs: RDD[(String, String)]): RDD[(String, String)] =
    pairs.groupByKey(new FnvPartitioner(nReduce))
      .map { case (k, vs) => (k, app.reduce(k, vs.toSeq)) }

  private def plainPath(uri: String): String =
    try {
      val p = new java.net.URI(uri).getPath
      if (p == null || p.isEmpty) uri else p
    } catch { case _: Exception => uri }

  /** Splittable line-oriented run, for apps whose map distributes over
    * lines (`map(f, a + "\n" + b) == map(f, a) ++ map(f, b)` — true of
    * wc/grep-style tokenizers that treat newline as a separator; NOT of
    * apps with per-document map state, e.g. the indexer's per-file
    * distinct, which keep the faithful [[run]]). Input comes through
    * `spark.read.text` — splittable at block boundaries, so one 10 GB file
    * becomes many parallel MAP tasks bounded by
    * `spark.sql.files.maxPartitionBytes` rather than file count. The
    * REDUCE side still honors the reference contract (the full value list
    * per key, no combiner) and therefore still materializes a hot key's
    * values on one reducer — at ingestion scale, algebraic apps (wc is)
    * must take [[runAlgebraic]]'s map-side-combine path instead; this
    * runner fixes the map side only. Map tasks see the owning file's
    * plain path, like [[run]]'s apps do (reference granularity:
    * src/mr/coordinator.go:191-207); the URI→path parse is memoized per
    * partition (input_file_name is constant within a split — paying a URI
    * parse per LINE would dominate the hot path).
    */
  def runLines(spark: SparkSession, app: MRApp, inputGlob: String,
               nReduce: Int = 10): RDD[(String, String)] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    shuffleReduce(app, nReduce, spark.read.text(inputGlob)
      .select(input_file_name().as("file"), col("value"))
      .rdd
      .mapPartitions { rows =>
        var lastUri: String = null
        var lastPath: String = null
        rows.flatMap { r =>
          val uri = r.getString(0)
          if (uri != lastUri) { lastUri = uri; lastPath = plainPath(uri) }
          app.map(lastPath, r.getString(1)).map(kv => (kv.key, kv.value))
        }
      })
  }

  /** Map-side-combinable fast path for algebraic reducers (associative +
    * commutative over the raw values). Not the general contract — see [[run]].
    */
  def runAlgebraic(spark: SparkSession, app: MRApp, inputGlob: String,
                   combine: (String, String) => String,
                   nReduce: Int = 10): RDD[(String, String)] =
    spark.sparkContext
      .wholeTextFiles(inputGlob)
      .flatMap { case (file, contents) =>
        app.map(plainPath(file), contents).map(kv => (kv.key, kv.value))
      }
      .reduceByKey(new FnvPartitioner(nReduce), combine)

  /** Writes the reference's text-sink format: one `"key value"` line per
    * group (src/mr/worker.go:203-219), one output file per reduce partition
    * (`part-0000N` standing in for `mr-out-N`; atomic commit via Spark's
    * FileOutputCommitter replaces the temp-file+rename protocol,
    * src/mr/worker.go:135-144).
    */
  def runToText(spark: SparkSession, app: MRApp, inputGlob: String,
                outDir: String, nReduce: Int = 10): Unit =
    run(spark, app, inputGlob, nReduce)
      .map { case (k, v) => s"$k $v" }
      .saveAsTextFile(outDir)

  /** Single-process sequential oracle, mirroring src/main/mrsequential.go:25-87:
    * read every file → map → global sort by key → group runs → reduce →
    * `"key value"` lines. Pure Scala (no Spark) so the distributed engine is
    * tested against an independent implementation, exactly as
    * src/main/test-mr.sh:80-111 diffs the distributed run against the
    * sequential golden output.
    */
  def runSequential(app: MRApp, files: Seq[java.nio.file.Path]): Seq[String] = {
    val intermediate = files.flatMap { p =>
      val contents = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      app.map(p.toString, contents)
    }
    intermediate
      .groupBy(_.key)
      .toSeq
      .sortBy(_._1)
      .map { case (k, kvs) => s"$k ${app.reduce(k, kvs.map(_.value))}" }
  }

  /** Expands a glob into the sorted local paths of the files it names,
    * with the same Hadoop glob the distributed scan (`wholeTextFiles`)
    * reads: any component may hold a wildcard, a matched directory gives
    * its files, and names starting with `_` or `.` are skipped.
    */
  def globPaths(glob: String): Seq[java.nio.file.Path] = {
    val pattern = new org.apache.hadoop.fs.Path(glob)
    val fs = pattern.getFileSystem(new org.apache.hadoop.conf.Configuration)
    val visible: org.apache.hadoop.fs.PathFilter =
      p => !p.getName.startsWith("_") && !p.getName.startsWith(".")
    Option(fs.globStatus(pattern, visible)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath, visible).toSeq else Seq(s))
      .filter(_.isFile)
      .map(s => java.nio.file.Paths.get(s.getPath.toUri))
      .sortBy(_.toString)
  }
}
