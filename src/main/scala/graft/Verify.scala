package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    // Cluster-posture sweep knob: SPARK_GRAFT_MATERIALIZE=persist (or
    // checkpoint/none) runs the whole oracle sweep under that
    // Q.materialize strategy — certifying the non-default postures end to
    // end, not just on MaterializeSpec's samples. Under persist the cache
    // is cleared per query: the sweep is 90+ independent queries, and
    // letting their persisted subtrees accumulate measures eviction
    // pressure, not the strategy.
    val strategy = sys.env.get("SPARK_GRAFT_MATERIALIZE")
    strategy.foreach(spark.conf.set("spark.graft.materialize", _))
    // Storage-level posture (round 13): SPARK_GRAFT_MATERIALIZE_LEVEL=
    // mem_disk sweeps under the deserialized fallback level — the
    // pre-r13 behavior, kept oracle-certified so the knob stays a
    // measured trade, not a bitrotted branch.
    sys.env.get("SPARK_GRAFT_MATERIALIZE_LEVEL")
      .foreach(spark.conf.set("spark.graft.materialize.level", _))
    // The checkpoint strategy needs a directory; default it under outDir
    // so the sweep runs instead of every materializing query failing on
    // the unset conf (on a cluster the real HDFS/object-store dir is set
    // explicitly and wins).
    if (strategy.contains("checkpoint") &&
        !spark.conf.getOption("spark.graft.checkpointDir").isDefined)
      spark.conf.set("spark.graft.checkpointDir", s"$outDir/_checkpoints")
    new java.io.File(outDir).mkdirs()
    // Dev-only iteration knob: SPARK_GRAFT_VERIFY_ONLY=a,b,c restricts the
    // sweep (and the dumped oracle_sql.json) to the named queries. The
    // driver never sets it, so the official gate always sweeps everything.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None        => SparkEntry.queries
    }
    var failed = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A thrown query must surface as an ERROR, not as whatever
        // partial parquet the failed write left behind (a 0-row read
        // would score as `rows_match: false` — indistinguishable from
        // "ran and returned nothing"). Replace the output dir with a
        // `_FAILED` sentinel naming the exception; the checker maps it
        // to an explicit err.
        val qd = new java.io.File(s"$outDir/$name")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete()
        }
        rm(qd); qd.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}\n")
      }
      // Per-query release of dead materialized frames (round 14 — see
      // Q.releaseMaterialized): the sweep is 183 independent queries, and
      // letting their checkpointed/persisted subtrees accumulate measures
      // driver-GC luck, not the queries. Subsumes the old persist-only
      // clearCache (releaseMaterialized clears the cache manager too).
      finally graft.queries.Q.releaseMaterialized(spark)
    }
    // Loud summary so a partial sweep can't pass for a complete one (the
    // exit code stays 0 — the driver's gate reads the per-query outputs).
    println(s"[verify] ${selected.size - failed} ok, $failed failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val dumpedSql = only match {
      case Some(names) => SparkEntry.oracleSql.filter(kv => names(kv._1))
      case None        => SparkEntry.oracleSql
    }
    val json = dumpedSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Under the checkpoint posture the defaulted _checkpoints dir holds
    // reliable-checkpoint RDD data for ~94 queries (plus per-round loop
    // checkpoints) and nothing evicts it — left in place it bloats the
    // output dir the driver scans. Only the defaulted location is
    // removed; an explicitly configured cluster dir is never touched.
    val defaultedCkptDir = Option.when(strategy.contains("checkpoint") &&
      spark.conf.getOption("spark.graft.checkpointDir")
        .contains(s"$outDir/_checkpoints"))(s"$outDir/_checkpoints")
    spark.stop()
    defaultedCkptDir.foreach { dir =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
