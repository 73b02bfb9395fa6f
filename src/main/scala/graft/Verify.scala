package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
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
      // letting their checkpointed subtrees accumulate measures driver-GC
      // luck, not the queries.
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
    spark.stop()
  }
}
