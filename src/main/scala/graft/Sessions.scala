package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The one session recipe shared by every entry point (the CLIs, Verify,
  * Bench, the test base), so they get the same configuration by
  * construction.
  */
object Sessions {

  /** Local-mode cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC and no UI (the
    * WARN root level comes from `log4j2.properties`). AQE is Spark 4's
    * default, so it is not set here. The caller's `conf` pairs are applied
    * last and win (`spark.master` included).
    */
  def local(app: String, conf: (String, String)*): SparkSession = {
    val n = cpus.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val (extensions, rest) = conf.partition(_._1 == "spark.sql.extensions")
    rest.foreach { case (k, v) => builder.config(k, v) }
    // Spark reads `spark.sql.extensions` from the SparkContext's conf, so a
    // session built on an already running context (the test JVM's shared
    // one) would drop it; applied here, it holds on a fresh context too.
    extensions.flatMap(_._2.split(",")).foreach { c =>
      builder.withExtensions(Class.forName(c.trim).getDeclaredConstructor()
        .newInstance().asInstanceOf[SparkSessionExtensions => Unit])
    }
    val spark = builder.getOrCreate()
    quietBoundedWindowWarn()
    spark
  }

  /** Silence WindowExec's "No Partition Defined" WARN.
    *
    * Exactly four declared queries run a global window ON PURPOSE, each
    * over a pre-bounded input: ta_cms_topk (rank over a 10-row
    * TakeOrderedAndProject head), ta_zipf_fit (rank over a 1000-row
    * head), q_quantile_sketch and q_quantile_merge (cumulative walks
    * over ≤1024-bucket histogram aggregates). The single partition the
    * warning fears holds
    * k rows, never the data — but in a log review the line is
    * indistinguishable from a real scale-killer, so it goes. A literal
    * partition key cannot do this job: Catalyst's
    * EliminateWindowPartitions strips foldable keys before execution.
    * The boundedness itself is locked mechanically by PlanShapeSpec:
    * "global windows only ever run over bounded inputs" pins the
    * bounding operator in each of the four plans, and the every-query
    * sweep in "no all-pairs product..." fails ANY other declared query
    * that grows an unpartitioned window — so this suppression cannot
    * hide an unbounded global window regression anywhere on the
    * declared surface.
    */
  def quietBoundedWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
