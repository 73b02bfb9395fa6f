package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic-data generator for the SCALING-SLOPE probe —
  * the same schema and measured distributional fingerprint as the driver's
  * `/root/testdata` tables (TESTDATA.md), extended one decade past sf0.1,
  * where the driver's data stops. Every round's 100-TB claims rest on plan
  * shape plus slope probes ending at 600k lineitem rows; this main lets the
  * probe run at sf1 (~6M rows) and beyond: generate a `g0.1` and a `g1`
  * with the SAME generator and compare per-query runtimes apples-to-apples
  * (g0.1 also cross-checks against the driver's sf0.1 to validate the
  * generator itself).
  *
  * Faithfulness basis (all DuckDB-measured on /root/testdata/sf0.1):
  *  - row counts per table and their SF scaling (documents/embeddings
  *    floor at 500 below sf0.1);
  *  - documents: 30-word uniform vocabulary, 10–100 words/doc, lang
  *    weights (en .41, de/es/fr/zh ~.1475), src0..19, ~5% near-dup copies
  *    of an earlier doc with a planted 'dup' token mutation (250/5000 docs
  *    carry 'dup', 255 occurrences), ~0.2% exact copies (8/5000 dup rows);
  *  - embeddings: 64-dim unit-normalized isotropic Gaussian (label
  *    centroid norms ~0.005 = no cluster structure), labels uniform 0..9;
  *  - events: fixed 30-day Jan-2024 span (density scales, span does not),
  *    users = 1.5% of events, value ~ Exponential(mean 50) rounded to
  *    cents, types uniform over 5, props = {"k": 0..99};
  *  - orders/lineitem: independent uniform draws (lines/order is the
  *    Binomial≈Poisson(4) of uniform orderkey picks; ship/order dates are
  *    independent — measured lag spans negative values), flags uniform;
  *  - fixed dims: region 5 / nation 25 verbatim.
  *
  * Determinism: every field is a pure function of (seed=42, table, id)
  * through splitmix64 — independent of partitioning, task order, and
  * retries, so a regenerated dataset is byte-identical in content.
  *
  * Usage: runMain graft.GenData <outDir> <sf>   (sf relative to TPC-H,
  * e.g. 0.1 reproduces the driver's sf0.1 shape, 1 is the probe decade)
  */
object GenData {

  // ---- deterministic per-(table, id) random stream -----------------------
  final class Rng(var s: Long) {
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** uniform in [0, 1) */
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
    /** standard normal via Box–Muller */
    def nextGaussian(): Double = {
      val u1 = math.max(nextDouble(), 1e-300)
      val u2 = nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }
  private def rng(table: String, id: Long): Rng =
    new Rng(42L ^ (table.hashCode.toLong << 32) ^ (id * 0x9E3779B97F4A7C15L))

  private def r2(x: Double): Double = math.rint(x * 100.0) / 100.0

  // ---- documents ---------------------------------------------------------
  private val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "de", "es", "fr", "zh")

  /** Base (pre-dup-planting) text of doc `id` — referenced by copies. */
  private def baseText(id: Long): String = {
    val r = rng("documents/base", id)
    val n = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  private def doc(id: Long): Doc = {
    val r = rng("documents", id)
    val roll = r.nextDouble()
    val text =
      if (id >= 10 && roll < 0.05) {
        // near-dup: copy an earlier doc's base text, plant a 'dup' token
        // (and sometimes one more vocab swap) — the measured 5%/one-'dup'-
        // per-copy rate that feeds the dedup family's candidate density.
        val src = (r.nextLong() >>> 1) % id
        val w = baseText(src).split(' ')
        w(r.nextInt(w.length)) = "dup"
        if (r.nextDouble() < 0.5)
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
        w.mkString(" ")
      } else if (id >= 10 && roll < 0.052) {
        baseText((r.nextLong() >>> 1) % id) // exact copy
      } else baseText(id)
    val lr = r.nextDouble()
    val lang =
      if (lr < 0.41) "en" else Langs(1 + ((lr - 0.41) / 0.1475).toInt.min(3))
    Doc(id, text, lang, "src" + r.nextInt(20), text.length.toLong)
  }

  // ---- embeddings --------------------------------------------------------
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private def emb(id: Long): Emb = {
    val r = rng("embeddings", id)
    val v = Array.fill(64)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    Emb(id, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  // ---- events ------------------------------------------------------------
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  private val EventTypes =
    Array("click", "view", "purchase", "signup", "error")
  private val EventsEpochMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val EventsSpanMs = 30L * 86400000L

  private def event(id: Long, nUsers: Long): Event = {
    val r = rng("events", id)
    val ts = new Timestamp(EventsEpochMs + (r.nextDouble() * EventsSpanMs).toLong)
    val value = r2(-50.0 * math.log1p(-r.nextDouble()))
    Event(id, ts, (r.nextLong() >>> 1) % nUsers,
      EventTypes(r.nextInt(5)), value, s"""{"k": ${r.nextInt(100)}}""")
  }

  // ---- TPC-H-ish star ----------------------------------------------------
  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  private val Segments = Array("AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
    "MACHINERY", "BUILDING")

  private def customer(id: Long): Customer = {
    val r = rng("customer", id)
    Customer(id, f"Customer#$id%09d", r.nextInt(25),
      r2(-1000.0 + r.nextDouble() * 11000.0), Segments(r.nextInt(5)))
  }

  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)
  private def supplier(id: Long): Supplier = {
    val r = rng("supplier", id)
    Supplier(id, f"Supplier#$id%09d", r.nextInt(25),
      r2(-1000.0 + r.nextDouble() * 11000.0))
  }

  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  private val Adjs = Array("new", "large", "hot", "blue", "old", "red",
    "small", "cold")
  private val Nouns = Array("widget", "bolt", "plate", "rod", "ring",
    "gear", "gizmo", "anvil")
  private val PTypes = Array("ECONOMY", "MEDIUM", "SMALL", "PROMO",
    "LARGE", "STANDARD")
  private def part(id: Long): Part = {
    val r = rng("part", id)
    Part(id, Adjs(r.nextInt(8)) + " " + Nouns(r.nextInt(8)),
      "Brand#" + r.nextInt(25), PTypes(r.nextInt(6)), 1 + r.nextInt(50),
      r2(900.0 + r.nextDouble() * 1100.0))
  }

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
      o_orderpriority: String)
  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val OrdersEpochMs = 788918400000L // 1995-01-01T00:00:00Z
  private def order(id: Long, nCust: Long): Order = {
    val r = rng("orders", id)
    Order(id, (r.nextLong() >>> 1) % nCust, Statuses(r.nextInt(3)),
      r2(1000.0 + r.nextDouble() * 499000.0),
      new Timestamp(OrdersEpochMs + r.nextInt(2405).toLong * 86400000L),
      Priorities(r.nextInt(5)))
  }

  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")
  private def lineitem(id: Long, nOrders: Long, nPart: Long,
      nSupp: Long): Lineitem = {
    val r = rng("lineitem", id)
    Lineitem((r.nextLong() >>> 1) % nOrders, (r.nextLong() >>> 1) % nPart,
      (r.nextLong() >>> 1) % nSupp, 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble,
      r2(900.0 + r.nextDouble() * 104100.0),
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
      new Timestamp(OrdersEpochMs + 86400000L +
        (r.nextDouble() * 2498.0 * 86400000L).toLong))
  }

  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Region(r_regionkey: Int, r_name: String)
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")

  // ------------------------------------------------------------------------

  /** Per-table row counts at `sf`, in ONE place: [[generate]] and
    * [[generateOnly]] both read these, so a retune can never make a
    * focused probe's tables silently diverge from the full bench set.
    */
  private final case class Counts(sf: Double) {
    val nLineitem: Long = (6000000L * sf).toLong
    val nOrders: Long = (1500000L * sf).toLong
    val nCust: Long = (150000L * sf).toLong
    val nSupp: Long = (10000L * sf).toLong
    val nPart: Long = (200000L * sf).toLong
    val nEvents: Long = (1000000L * sf).toLong
    val nUsers: Long = math.max(15L, nEvents * 15L / 1000L)
    val nDocs: Long = math.max(500L, (50000L * sf).toLong)
    val nEmb: Long = math.max(500L, (20000L * sf).toLong)
    // One file per table at bench SFs; past sf1 the single-file coalesce
    // would serialize generation into one task, so the file count scales
    // (content stays byte-identical — every field is a pure function of
    // (table, id) — only file boundaries move).
    val nFiles: Int = if (sf <= 1.0) 1 else math.min(32, math.ceil(sf).toInt)
  }

  def generate(spark: SparkSession, out: String, sf: Double): Unit = {
    import spark.implicits._
    val c = Counts(sf)
    import c._

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    def writeN(df: DataFrame, name: String): Unit = write(df, name, nFiles)
    writeN(spark.range(nDocs).map(doc(_)).toDF(), "documents")
    writeN(spark.range(nEmb).map(emb(_)).toDF(), "embeddings")
    writeN(spark.range(nEvents).map(event(_, nUsers)).toDF(), "events")
    writeN(spark.range(nCust).map(customer(_)).toDF(), "customer")
    writeN(spark.range(nSupp).map(supplier(_)).toDF(), "supplier")
    writeN(spark.range(nPart).map(part(_)).toDF(), "part")
    writeN(spark.range(nOrders).map(order(_, nCust)).toDF(), "orders")
    writeN(spark.range(nLineitem)
      .map(lineitem(_, nOrders, nPart, nSupp)).toDF(), "lineitem")
    write((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF(),
      "nation", 1)
    write(Regions.toSeq.zipWithIndex.map { case (n, i) => Region(i, n) }
      .toDF(), "region", 1)
  }

  /** Generate only the named tables (same content as [[generate]] would
    * give them at this sf — per-(table, id) determinism makes subsetting
    * free): lets a focused probe (e.g. the ANN stack at 2M vectors) pay
    * for one table instead of a 20 GB corpus.
    */
  def generateOnly(spark: SparkSession, out: String, sf: Double,
      only: Set[String]): Unit = {
    import spark.implicits._
    val c = Counts(sf)
    import c._
    def write(df: DataFrame, name: String): Unit =
      if (only(name)) df.coalesce(nFiles).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    write(spark.range(nDocs).map(doc(_)).toDF(), "documents")
    write(spark.range(nEmb).map(emb(_)).toDF(), "embeddings")
    write(spark.range(nEvents).map(event(_, nUsers)).toDF(), "events")
    write(spark.range(nCust).map(customer(_)).toDF(), "customer")
    write(spark.range(nSupp).map(supplier(_)).toDF(), "supplier")
    write(spark.range(nPart).map(part(_)).toDF(), "part")
    write(spark.range(nOrders).map(order(_, nCust)).toDF(), "orders")
    write(spark.range(nLineitem)
      .map(lineitem(_, nOrders, nPart, nSupp)).toDF(), "lineitem")
    if (only("nation"))
      (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF()
        .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
    if (only("region"))
      Regions.toSeq.zipWithIndex.map { case (n, i) => Region(i, n) }.toDF()
        .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: GenData <outDir> <sf> [onlyTable1,onlyTable2]")
    val spark = Sessions.local("graft-gendata")
    try {
      if (args.length == 3)
        generateOnly(spark, args(0), args(1).toDouble,
          args(2).split(",").map(_.trim).toSet)
      else generate(spark, args(0), args(1).toDouble)
    } finally spark.stop()
  }
}
