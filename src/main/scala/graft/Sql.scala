package graft

/** Ad-hoc SQL CLI over the engine: builds a session with GraftExtensions
  * (native fnv1a32 / arr_dot available in SQL), registers every testdata
  * table as a temp view, runs the given statement, prints the result.
  *
  * Usage: runMain graft.Sql <sfDir> <sql...>
  */
object Sql {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Sql <sfDir> <sql...>")
      sys.exit(2)
    }
    val sfDir = args.head
    val sql = args.drop(1).mkString(" ")
    val spark = Sessions.local("graft-sql",
      "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName)
    queries.Tables.names.foreach { n =>
      try queries.Tables.t(spark, sfDir, n).createOrReplaceTempView(n)
      catch {
        case e: Exception =>
          // Surface the real cause (corrupt file, permissions) — a silent
          // skip would resurface later as a misleading "table not found".
          System.err.println(s"[sql] view '$n' unavailable: ${e.getMessage}")
      }
    }
    spark.sql(sql).show(100, truncate = false)
    spark.stop()
  }
}
