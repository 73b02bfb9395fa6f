package graft.engine

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.GraftKeyGrouping
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

/** Spark-native restatement of the reference MapReduce runtime
  * (src/mr/worker.go + src/mr/coordinator.go), pipeline
  * E1→E2→E3/E4/E5→E6/E7→E8→E9 from SURVEY.md §2.1:
  *
  *   whole-file scan → user map, grouped by key per call → FNV hash
  *   shuffle (nReduce partitions) → spillable grouping by key → user
  *   reduce → "key value" text lines.
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
  * text use the relational DataFrame path (`graft.queries` modules, whose
  * `spark.read.text` scans split at block boundaries), not this faithful
  * whole-file surface.
  */
object MapReduce {

  /** Distributed run, returning (key, reduced-value) pairs.
    *
    * The reference hands `reduce` the FULL value list of a key, once
    * (src/mr/worker.go:188-203): it has no combiner, and a general `reducef`
    * is not algebraic. So nothing here calls `reduce` early. What is
    * combined is lists: each map call's output is grouped by key inside the
    * call (in-mapper combining), so the shuffle moves one `(key, values)`
    * record per distinct key of a call, written by [[KeyValuesSerializer]]
    * with no Spark aggregator. The reduce side groups a partition's records
    * by key in the engine's own grouping (`org.apache.spark.GraftKeyGrouping`),
    * which counts its own bytes and spills key-sorted runs through Spark's
    * memory manager; it then concatenates a key's lists, one per map call,
    * into one array and hands `reduce` that array as an immutable `Seq`.
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
          nReduce: Int = 10, minMapTasks: Int = 2): RDD[(String, String)] = {
    val calls = spark.sparkContext
      .wholeTextFiles(inputGlob, minMapTasks)
      .flatMap { case (file, contents) =>
        // wholeTextFiles yields URIs (file:/...); apps see plain paths like
        // the reference's os.Args file names (src/main/mrcoordinator.go:23).
        groupValues(app.map(plainPath(file), contents))
      }
    new ShuffledRDD[String, Array[String], Array[String]](calls, new FnvPartitioner(nReduce))
      .setSerializer(KeyValuesSerializer)
      .mapPartitions(records => GraftKeyGrouping.group(records)
        .map { case (k, lists) => (k, app.reduce(k, concat(lists))) })
  }

  /** One map call's output as one record per distinct key. */
  private def groupValues(kvs: Seq[KV]): Iterator[(String, Array[String])] = {
    val groups = new java.util.HashMap[String, mutable.ArrayBuilder[String]]
    kvs.foreach(kv => groups.computeIfAbsent(kv.key, _ => Array.newBuilder[String]) += kv.value)
    groups.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.result()))
  }

  /** A key's lists, kept apart until its reduce call so that a key in many
    * map calls is copied once, not once per merge.
    */
  private def concat(lists: List[Array[String]]): Seq[String] =
    ArraySeq.unsafeWrapArray(lists match {
      case one :: Nil => one
      case _ => Array.concat(lists: _*)
    })

  private def plainPath(uri: String): String =
    try {
      val p = new java.net.URI(uri).getPath
      if (p == null || p.isEmpty) uri else p
    } catch { case _: Exception => uri }

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
  def globPaths(glob: String, conf: Configuration = hadoopConf()): Seq[java.nio.file.Path] = {
    val pattern = new org.apache.hadoop.fs.Path(glob)
    val fs = pattern.getFileSystem(conf)
    val visible: org.apache.hadoop.fs.PathFilter =
      p => !p.getName.startsWith("_") && !p.getName.startsWith(".")
    Option(fs.globStatus(pattern, visible)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath, visible).toSeq else Seq(s))
      .filter(_.isFile)
      .map(s => java.nio.file.Paths.get(s.getPath.toUri))
      .sortBy(_.toString)
  }

  /** The running session's Hadoop configuration, which the scan reads; a
    * new one (parsing `core-default.xml` again, 20–50 ms) only when no
    * session exists yet.
    */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration)(_.sparkContext.hadoopConfiguration)
}
