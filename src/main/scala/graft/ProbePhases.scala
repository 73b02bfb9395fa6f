package graft

/** Dev measurement tool (optimization round): split one declared query's
  * wall clock into CONSTRUCT (builder runs, incl. any construction-time
  * actions like convergence loops), PLAN (queryExecution.executedPlan
  * forced), and EXECUTE (noop save), each over `reps` repeats — the
  * local-mode substitute for the UI's SQL-tab duration breakdown, needed
  * because at bench SFs the cluster-side work divides by 32 cores while
  * driver-side planning does not, and the two are indistinguishable in
  * the bench's single wall number.
  *
  * Usage: runMain graft.ProbePhases <query> [sfDir] [reps]
  */
object ProbePhases {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local("graft-probe-phases")
    val fn = SparkEntry.queries(name)
    def t[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    for (i <- 1 to reps) {
      val (tc, df) = t(fn(spark, sfDir))
      val (tp, _) = t(df.queryExecution.executedPlan)
      val (te, _) =
        t(df.write.format("noop").mode("overwrite").save())
      println(f"[$name rep $i] construct=$tc%.2f plan=$tp%.2f exec=$te%.2f")
    }
    spark.stop()
  }
}
