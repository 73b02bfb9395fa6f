package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the correctness baseline, a k-means
  * quantizer (IVF training + assignment) with a cell-probed top-k as the
  * index path, hyperplane-LSH embedding near-dup pairs, and the
  * candidate-pair cosine histogram.
  *
  * Vector math is the native codegen `graft.functions.ArrayDot` loop over
  * double-cast arrays — an ascending-index IEEE fold, bit-identical to
  * DuckDB's `list_dot_product` (and ~20× faster than the interpreted
  * `aggregate(zip_with(...))` formulation it replaced), so cosines compare
  * exactly across engines (outputs are still epsilon-rounded; ranks order
  * by the rounded cosine with id tie-breaks).
  *
  * Scale shape: brute force is O(Q×N) — fine for a query batch against a
  * broadcast candidate set, wrong for N×N. The IVF variant joins only
  * within the quantizer cell ([[kmeansAssignFrom]] — nearest centroid by
  * squared L2, nprobe=1), turning the product into per-bucket blocks —
  * the partition-pruning contract a real IVF index gives at 100 TB. Pair
  * generation for near-dup goes through [[hyperplaneCandidates]] — no
  * all-pairs product anywhere (PlanShapeSpec enforces it).
  */
object Similarity {
  import Tables.t
  import Det.r4e

  /** [[vecs]] opened to the test suites outside this package. */
  private[graft] def probeVecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)

  /** Embeddings with doubles + precomputed norm. */
  /** `fan = true` routes the embeddings scan through [[Tables.fanned]]
    * (round 13): opt-in per caller — the r13 fan-out A/B showed the
    * mplsh cell/probe computation 1.9× faster fanned (1.51 → 0.80 s at
    * sf0.1) while the index-building and CellTopK map-only queries,
    * whose first stage is already one tight projection, paid the extra
    * exchange for nothing.
    */
  private[queries] def vecs(spark: SparkSession, dir: String,
      fan: Boolean = false): DataFrame =
    (if (fan) Tables.fanned(spark, dir, "embeddings")
     else t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm", graft.functions.Vectors.arrNorm(col("e")))

  private val VecsSql = """
    SELECT vec_id, label, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings"""

  private def dot(a: Column, b: Column): Column =
    graft.functions.Vectors.arrDot(a, b)

  // ---- Random-hyperplane LSH (sign-of-dot banding) --------------------------
  //
  // b=32 bands of r=8 sign bits each: 256 seeded hyperplanes whose integer
  // components come from the same portable md5 math as Hashing.md5hash32, so
  // the identical planes are constructible in the DuckDB oracle. A pair is a
  // candidate iff all 8 sign bits of SOME band agree. For a pair at angle θ a
  // bit agrees with p = 1 − θ/π, so candidate probability is
  // 1 − (1 − p^8)^32: ≥ 0.996 at cosine 0.8 (the near-dup regime this
  // operator exists for), ~0.65 at the marginal 0.45 threshold on isotropic
  // noise (EmbeddingLshRecallSpec commits the measured numbers), while only
  // ~13% of random pairs survive to the exact verify. r grows like log N at
  // production scale to keep buckets bounded; the MaxBucket cap drops
  // pathological buckets identically on both engines.

  private val HpBands = 32
  private val HpRowsPerBand = 8
  private val HpDim = 64
  private val MaxBucket = Lsh.MaxBucket

  /** Deterministic plane component in [-1000, 1000]: first 8 md5 hex digits
    * of "hp:plane:dim" mod 2001, shifted — exactly `Hashing.md5hash32`'s
    * math, evaluated at query-build time (the planes are constants).
    */
  private def planeComp(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp:$j:$d".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000).toDouble
  }

  private lazy val hyperplanes: IndexedSeq[Seq[Double]] =
    (0 until HpBands * HpRowsPerBand)
      .map(j => (0 until HpDim).map(d => planeComp(j, d)))

  /** Band key of band `b`: the r sign bits packed into an int. */
  private def hpBandKey(b: Int): Column =
    (0 until HpRowsPerBand).map { p =>
      val j = b * HpRowsPerBand + p
      when(dot(col("e"), typedLit(hyperplanes(j))) > 0, lit(1 << p))
        .otherwise(lit(0))
    }.reduce(_ + _).cast("long")

  /** Candidate pairs from the union of the 32 band-bucket joins: explode to
    * (band, key) rows, bucket-collect (capped), expand in-bucket pairs,
    * dedup across bands. Only vec_ids travel through the shuffle — vectors
    * are joined back for the exact verify.
    */
  private[queries] def hyperplaneCandidates(v: DataFrame): DataFrame = {
    val bandStructs = (0 until HpBands).map(b =>
      struct(lit(b).as("band"), hpBandKey(b).as("key")))
    val keyed = v
      .select(col("vec_id").as("m"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("m"))
    Lsh.bucketPairs(keyed)
      .select(col("p.a").as("vec_a"), col("p.b").as("vec_b"))
      .distinct()
  }

  /** DuckDB mirror of [[hyperplaneCandidates]]; expects the `n` CTE
    * ([[VecsSql]]). Planes are generated in-SQL from the same md5 formula.
    */
  private val HpCandSql = s"""
           planes AS (SELECT j, list_transform(range(0, $HpDim), d ->
               ((('0x' || substr(md5('hp:' || j || ':' || d), 1, 8))::BIGINT
                 % 2001) - 1000)::DOUBLE) AS w
             FROM range(0, ${HpBands * HpRowsPerBand}) t(j)),
           keys AS (SELECT n.vec_id, (j // $HpRowsPerBand) AS band,
               sum(CASE WHEN list_dot_product(n.e, p.w) > 0
                        THEN 1 << (j % $HpRowsPerBand) ELSE 0 END)::BIGINT AS key
             FROM n, planes p GROUP BY n.vec_id, band),
           ok AS (SELECT band, key FROM keys GROUP BY band, key
                  HAVING count(*) > 1 AND count(*) <= $MaxBucket),
           cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
                                     AND a.vec_id < b.vec_id
             JOIN ok ON ok.band = a.band AND ok.key = a.key)"""

  val topkBrute = Q(
    "sim_topk_bruteforce",
    "Brute-force cosine top-5 for a 20-query batch against all candidates. " +
      "The query side is tiny → broadcast; candidates stream once. Rank by " +
      "rounded cosine + id tie-break; ties can't reorder across engines.",
    Some(s"""
      WITH n AS ($VecsSql),
           scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos_raw
             FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, rank,
             round(cos_raw + 1e-8, 4) AS cosine
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(cos_raw + 1e-9, 6) DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = vecs(spark, dir)
      val q = v.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qn"))
      val c = v.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"))
      val scored = broadcast(q)
        .join(c, col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_raw", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(round(col("cos_raw") + lit(1e-9), 6).desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          r4e(col("cos_raw")).as("cosine"))
    })

  // ---- IVF quantizer (k-means-lite) -----------------------------------------
  //
  // Centroids are the per-label mean vectors (one Lloyd's-style assignment
  // step seeded by the label partition — sim_label_centroid's aggregation,
  // re-rolled into arrays), and the quantizer assigns every vector to its
  // nearest centroid by squared L2 via the native ArrayDot identity
  // ‖e−c‖² = e·e − 2e·c + c·c. Centroid components are rounded to 6
  // decimals on BOTH engines before any distance math, so assignments are
  // hash-exact. k = #labels stays small → the centroid side broadcasts;
  // the scan side streams once. (The test embeddings are isotropic, so the
  // cells have no semantic pull — the machinery is what's exercised.)

  /** Mean vector per `key` column of a [[vecs]]-shaped frame: the Lloyd's
    * update step, reusable for any cell keying (labels seed iteration 1;
    * iteration-1 assignments feed iteration 2).
    */
  private[queries] def centroidsOver(v: DataFrame, key: String): DataFrame =
    v.select(col(key).as("k"), posexplode(col("e")))
      .groupBy(col("k"), col("pos"))
      .agg(round(avg(col("col")) + lit(1e-9), 6).as("c"))
      .groupBy(col("k"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))
      .select(col("k").as("cell"), col("centroid"))

  /** Per-label mean vectors as arrays: (cell, centroid), from a [[vecs]]
    * frame (so callers can reuse one checkpointed scan).
    */
  private[queries] def centroidsFrom(v: DataFrame): DataFrame =
    centroidsOver(v, "label")

  private val CentroidsSql = """
           cent AS (
             SELECT label AS cell, list(c ORDER BY pos) AS centroid
             FROM (SELECT label, i AS pos,
                          round(avg(embedding[i + 1]::DOUBLE) + 1e-9, 6) AS c
                   FROM (SELECT label, embedding,
                                unnest(range(0, len(embedding))) AS i
                         FROM embeddings)
                   GROUP BY label, pos)
             GROUP BY label)"""

  /** Per-vector centroid ranking of `v` against a (cell, centroid) table:
    * every (vec_id, cell) scored by squared L2, ranked per vec_id on the
    * rounded distance with cell tie-break, kept up to rank `p` — rank 1
    * is the quantizer assignment, ranks ≤ nprobe are the probe set of an
    * IVF search. `carry` names the extra `v` columns kept through the
    * ranking (probe consumers ask for e/nrm to score without a re-join).
    *
    * ONE NATIVE EXPRESSION, MAP-ONLY (round 9): the round-8 formulation
    * joined v against the broadcast centroid table and row_number-
    * windowed the N×k scored rows by vec_id — at the g10 probe (200k
    * vectors, k = 2560 adaptive cells) that cost ~1 µs per (vector,
    * centroid) PAIR (row iteration, virtual array access, a BigDecimal
    * round per pair, a 512M-row exchange) and was the measured
    * super-linear term of the whole kNN family: 21.8×/decade,
    * stage-attributed at 179–292 s of a 320 s query (history/PLANS.md,
    * round 9).
    * Two intermediate rewrites (per-row HOF array sort; primitive-key
    * min-aggregation over the join) only shaved constants — HOFs are
    * CodegenFallback, and even the codegen'd join pays per-pair row
    * machinery. [[graft.functions.CellTopK]] collapses the whole
    * per-vector scan into one expression over a flat primitive centroid
    * matrix: tight multiply-add inner loop, exact HALF_UP rounding only
    * for candidates that can still enter the top-p, no join, no window,
    * NO exchange — the plan is a projection. Arithmetic, rounding, and
    * the (r6, cell) tie-break are bit-identical to the join+window form
    * (see CellTopK's exactness note), so the oracle is untouched; the
    * remaining cost is the unavoidable N·k·d flops of a flat coarse
    * quantizer (hierarchical quantizers take over past ~10M vectors, as
    * the scale note on [[KnnSubCellThreshold]] states).
    */
  private[graft] def cellRanks(v: DataFrame, cent: DataFrame, p: Int,
      carry: Seq[String] = Nil): DataFrame = {
    // The centroid table COLLECTS into the expression: k rows, the same
    // driver-bounded scale as broadcasting it (which every prior shape
    // did anyway) — sorted by cell for a deterministic matrix.
    val (cells, flat, d) = packedCentroids(cent, _ => 0L)
    val topk = org.apache.spark.sql.GraftShim.column(
      graft.functions.CellTopK(
        org.apache.spark.sql.GraftShim.expression(col("e")),
        cells, flat, d, p))
    rankTail(v, topk, cent.schema("cell").dataType, carry)
  }

  /** Collect a (cell, centroid) table into the packed primitive form the
    * CellTopK family rides on: cell ids + row-major flat matrix, sorted
    * by (groupOf(cell), cell) — ascending cell for the flat scan
    * (`groupOf = _ => 0`), group-contiguous for [[GroupCellTopK]]'s
    * ranges. k rows, driver-bounded (the scale every prior broadcast
    * shape paid anyway).
    */
  private def packedCentroids(cent: DataFrame, groupOf: Long => Long)
      : (Array[Long], Array[Double], Int) = {
    val rows = cent.select(col("cell").cast("long"), col("centroid"))
      .collect().sortBy(r => (groupOf(r.getLong(0)), r.getLong(0)))
    require(rows.nonEmpty, "packedCentroids: empty centroid table")
    val d = rows.head.getSeq[Double](1).size
    val cells = rows.map(_.getLong(0))
    val flat = new Array[Double](rows.length * d)
    rows.zipWithIndex.foreach { case (r, j) =>
      val c = r.getSeq[Double](1)
      var i = 0
      while (i < d) { flat(j * d + i) = c(i); i += 1 }
    }
    (cells, flat, d)
  }

  /** Shared explode/rename tail of [[cellRanks]] / [[hierCellRanks]]:
    * (vec_id, carry..., cell, d2_raw, rk) from a ranked array column.
    */
  private def rankTail(v: DataFrame, topk: Column,
      cellType: org.apache.spark.sql.types.DataType,
      carry: Seq[String]): DataFrame =
    v.select(Seq(col("vec_id")) ++ carry.map(col)
        :+ posexplode(topk).as(Seq("rk0", "t")): _*)
      .select(Seq(col("vec_id")) ++ carry.map(col) ++ Seq(
        col("t.cell").cast(cellType).as("cell"),
        col("t.d2_raw").as("d2_raw"),
        (col("rk0") + 1).cast("int").as("rk")): _*)

  /** Two-level HIERARCHICAL centroid ranking — [[cellRanks]] past the
    * flat-quantizer crossover (the "hierarchical quantizers take over
    * past ~10M vectors" note every IVF scaladoc in this file points at,
    * now an implemented operator): rank the k1 GROUP centroids first
    * ([[graft.functions.CellTopK]], keep `sprobe`), then rank ONLY the
    * probed groups' cells ([[graft.functions.GroupCellTopK]] over
    * group-contiguous ranges of the packed matrix). Still ONE map-only
    * projection — no join, no window, NO exchange — but the per-row
    * quantizer cost drops from k·d to (k1 + sprobe·k/k1)·d flops: at the
    * g10 probe's k = 2560 adaptive cells (k1 = 10 labels, sprobe = 2)
    * that is ~522·d vs 2560·d, and the gap grows with N because the
    * adaptive cell count k scales ∝ N (cell size pinned ~128) while
    * k/k1 scales ∝ N/k1.
    *
    * EXACTNESS: both levels rank by `round(d2 + 1e-9, 6)` with
    * ascending-id tie-break (the kernel shared with [[cellRanks]]), so
    * `rk` ranks the UNION of the probed groups' cells bit-identically to
    * a join+window plan filtered with `WHERE group(cell) IN probes` —
    * the form the DuckDB oracles replay. Recall vs the flat scan is the
    * standard two-level trade (a true near cell under an unprobed group
    * is missed); HierIvfSpec measures it honestly on the isotropic
    * corpus.
    */
  private[graft] def hierCellRanks(v: DataFrame, supCent: DataFrame,
      cent: DataFrame, groupOf: Long => Long, sprobe: Int, p: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val (supCells, supFlat, d1) = packedCentroids(supCent, _ => 0L)
    val (cells, flat, d) = packedCentroids(cent, groupOf)
    require(d == d1,
      s"hierCellRanks: dim mismatch (groups $d1, cells $d)")
    val groups = cells.map(groupOf)
    val groupIds = groups.distinct // ascending: cells sorted by group
    val groupOff = new Array[Int](groupIds.length + 1)
    var g = 0
    var j = 0
    while (j < groups.length) {
      while (groupIds(g) != groups(j)) { g += 1; groupOff(g) = j }
      j += 1
    }
    groupOff(groupIds.length) = groups.length
    import org.apache.spark.sql.GraftShim.{column, expression}
    val probes = transform(
      column(graft.functions.CellTopK(
        expression(col("e")), supCells, supFlat, d, sprobe)),
      t => t.getField("cell"))
    val topk = column(graft.functions.GroupCellTopK(
      expression(col("e")), expression(probes),
      cells, flat, d, p, groupIds, groupOff))
    rankTail(v, topk, cent.schema("cell").dataType, carry)
  }

  /** Nearest-centroid assignment of `v` against a (cell, centroid) table:
    * (vec_id, cell, d2_raw) — the rank-1 row of [[cellRanks]].
    */
  private[queries] def assignAgainst(v: DataFrame, cent: DataFrame): DataFrame =
    cellRanks(v, cent, 1).select(col("vec_id"), col("cell"), col("d2_raw"))

  /** Quantizer assignment (one Lloyd's step from the label seeding). */
  private[queries] def kmeansAssignFrom(v: DataFrame): DataFrame =
    assignAgainst(v, centroidsFrom(v))

  /** Mirror of [[kmeansAssign]]; expects `n` ([[VecsSql]]) and
    * [[CentroidsSql]] CTEs. Ends in `assign(vec_id, cell, d2_raw)`.
    */
  private val AssignSql = """
           cscored AS (
             SELECT n.vec_id, cent.cell,
                    list_dot_product(n.e, n.e)
                      - 2 * list_dot_product(n.e, cent.centroid)
                      + list_dot_product(cent.centroid, cent.centroid) AS d2_raw
             FROM n, cent),
           assign AS (
             SELECT vec_id, cell, d2_raw
             FROM (SELECT *, row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                   FROM cscored)
             WHERE rk = 1)"""

  val kmeansAssignQ = Q(
    "sim_kmeans_assign",
    "The IVF training/assignment step as a query: every vector mapped to " +
      "its nearest centroid (per-label means — one Lloyd's iteration " +
      "seeded by the label partition) by squared L2 distance, computed " +
      "with the native ArrayDot identity against a BROADCAST k-row " +
      "centroid table — the scan side streams once, no shuffle of " +
      "vectors. sim_topk_ivf probes these cells.",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql
      SELECT vec_id, cell, round(d2_raw + 1e-6, 2) AS dist2
      FROM assign""".stripMargin),
    (spark, dir) =>
      kmeansAssignFrom(Q.materialize(vecs(spark, dir)))
        .select(col("vec_id"), col("cell"),
          Det.r2e(col("d2_raw")).as("dist2")))

  val kmeansIter2 = Q(
    "sim_kmeans_iter2",
    "A full Lloyd's iteration on top of sim_kmeans_assign: recompute " +
      "centroids as the means of the ITERATION-1 cells (not the label " +
      "seeding), then re-assign every vector against them — the " +
      "update+assign loop a production quantizer runs to convergence, " +
      "demonstrated for one more round with the same broadcast-centroid " +
      "plan shape and hash-exact cross-engine determinism (centroid " +
      "components rounded before any distance math at every iteration).",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           cent2 AS (
             SELECT cell, list(c ORDER BY pos) AS centroid
             FROM (SELECT cell, i AS pos, round(avg(e[i + 1]) + 1e-9, 6) AS c
                   FROM (SELECT a.cell, n.e,
                                unnest(range(0, len(n.e))) AS i
                         FROM n JOIN assign a ON a.vec_id = n.vec_id)
                   GROUP BY cell, i)
             GROUP BY cell),
           scored2 AS (
             SELECT n.vec_id, cent2.cell,
                    list_dot_product(n.e, n.e)
                      - 2 * list_dot_product(n.e, cent2.centroid)
                      + list_dot_product(cent2.centroid, cent2.centroid)
                        AS d2_raw
             FROM n, cent2),
           assign2 AS (
             SELECT vec_id, cell, d2_raw
             FROM (SELECT *, row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                   FROM scored2)
             WHERE rk = 1)
      SELECT vec_id, cell, round(d2_raw + 1e-6, 2) AS dist2
      FROM assign2""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      val a1 = kmeansAssignFrom(v)
        .select(col("vec_id"), col("cell").as("cell1"))
      val cent2 = centroidsOver(v.join(a1, "vec_id"), "cell1")
      assignAgainst(v, cent2)
        .select(col("vec_id"), col("cell"),
          Det.r2e(col("d2_raw")).as("dist2"))
    })

  val topkIvf = Q(
    "sim_topk_ivf",
    "IVF probed top-5: candidates restricted to the query's quantizer " +
      "cell (nearest-centroid assignment from sim_kmeans_assign — a real " +
      "index path, not a metadata stand-in), so the join is equi on the " +
      "cell key — a hash join over buckets instead of a cross product. " +
      "This is the plan shape that survives 100 TB: per-cell blocks, " +
      "partition-prunable, nprobe=1.",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           na AS (SELECT n.*, assign.cell FROM n
                  JOIN assign ON assign.vec_id = n.vec_id),
           scored AS (
             SELECT q.vec_id AS query_id, q.cell AS cell,
                    c.vec_id AS neighbor_id,
                    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos_raw
             FROM na q JOIN na c ON q.cell = c.cell AND c.vec_id <> q.vec_id
             WHERE q.vec_id < 20)
      SELECT query_id, cell, neighbor_id, rank,
             round(cos_raw + 1e-8, 4) AS cosine
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(cos_raw + 1e-9, 6) DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      val assign = kmeansAssignFrom(v).select(col("vec_id"), col("cell"))
      val va = v.join(assign, "vec_id")
      val q = va.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("cell"),
          col("e").as("qe"), col("nrm").as("qn"))
      val c = va.select(col("vec_id").as("neighbor_id"),
        col("cell").as("ccell"), col("e").as("ce"), col("nrm").as("cn"))
      val scored = broadcast(q)
        .join(c, col("cell") === col("ccell") &&
          col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_raw", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(round(col("cos_raw") + lit(1e-9), 6).desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("cell"), col("neighbor_id"), col("rank"),
          r4e(col("cos_raw")).as("cosine"))
    })

  val topkIvfProbe2 = Q(
    "sim_topk_ivf_probe2",
    "IVF probed top-5 at nprobe=2 — the recall/cost knob every production " +
      "ANN index exposes: each query ranks the broadcast centroid table " +
      "and probes its TWO nearest cells (cellRanks rk ≤ 2), so candidates " +
      "come from two equi cell-joins instead of one. Still no product: " +
      "the probe set is 2×20 rows broadcast against cell-bucketed " +
      "candidates, and a candidate belongs to exactly one cell, so the " +
      "probe union is duplicate-free by construction. IvfRecallSpec " +
      "measures recall@5 vs brute force improving from nprobe=1 to 2.",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           probes AS (
             SELECT vec_id, cell
             FROM (SELECT vec_id, cell, row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                   FROM cscored WHERE vec_id < 20)
             WHERE rk <= 2),
           na AS (SELECT n.*, assign.cell FROM n
                  JOIN assign ON assign.vec_id = n.vec_id),
           scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_dot_product(qn.e, c.e) / (qn.nrm * c.nrm) AS cos_raw
             FROM probes q
             JOIN n qn ON qn.vec_id = q.vec_id
             JOIN na c ON c.cell = q.cell AND c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, rank,
             round(cos_raw + 1e-8, 4) AS cosine
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(cos_raw + 1e-9, 6) DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      // The k-row centroid table feeds BOTH the assignment and the probe
      // ranking, which live in different broadcast subtrees — without
      // materialization each would re-run the full centroid aggregation
      // over every vector (no exchange reuse across broadcast builds).
      val cent = Q.materialize(centroidsFrom(v))
      val assign = assignAgainst(v, cent).select(col("vec_id"), col("cell"))
      val c = v.join(assign, "vec_id")
        .select(col("vec_id").as("neighbor_id"), col("cell").as("ccell"),
          col("e").as("ce"), col("nrm").as("cn"))
      val q = cellRanks(v.filter(col("vec_id") < 20), cent, 2,
          carry = Seq("e", "nrm"))
        .select(col("vec_id").as("query_id"), col("cell"),
          col("e").as("qe"), col("nrm").as("qn"))
      scoreTopkCosine(q, c)
    })

  /** Shared scoring tail of [[topkIvfProbe2]] / [[ivfPrunedTopk]] — the
    * two builders whose row-for-row equality IvfPrunedSpec pins, so the
    * broadcast probe join, the self-pair exclusion, the rounded-cosine
    * window with id tie-break, and the top-5 cut live in exactly one
    * place and cannot drift. `q` = (query_id, cell, qe, qn) probe rows
    * (batch·nprobe — broadcast-sized by construction); `cand` =
    * (neighbor_id, ccell, ce, cn) candidates.
    */
  private def scoreTopkCosine(q: DataFrame, cand: DataFrame): DataFrame = {
    val scored = broadcast(q)
      .join(cand, col("cell") === col("ccell") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_raw", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos_raw") + lit(1e-9), 6).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        r4e(col("cos_raw")).as("cosine"))
  }

  val topkIvfPruned = Q(
    "sim_topk_ivf_pruned",
    "IVF INDEX AS A PARTITIONED LAYOUT — the SERVING shape of cell-probed " +
      "search at 100 TB: the corpus is written ONCE partitioned by its " +
      "quantizer cell (the index build a production system amortizes " +
      "across every query batch), and candidate fetch becomes a " +
      "partition-PRUNED file read of only the probed cells' directories " +
      "— the scan lists batch*nprobe directories out of k, no corpus " +
      "shuffle, no corpus-wide scan, exactly how a lakehouse-resident " +
      "ANN index is actually served (cell -> partition -> file pruning). " +
      "Semantics are IDENTICAL to sim_topk_ivf_probe2 (same oracle SQL " +
      "verbatim): the layout changes the I/O, never the answer. " +
      "IvfPrunedSpec pins both halves — row equality with the shuffle-" +
      "join form AND that the scan's static partition filters alone " +
      "bound the pruned listing to the probed cells' directories.",
    topkIvfProbe2.oracle,
    (spark, dir) => ivfPrunedTopk(spark, dir, batch = 20, nprobe = 2))

  /** The partition-pruned IVF search behind [[topkIvfPruned]], with the
    * batch/nprobe knobs exposed for IvfPrunedSpec's pruning assertion
    * (a small batch must read strictly fewer cell directories).
    */
  /** Per-dataset partitioned-index directories: the index an amortized
    * production system builds ONCE per corpus — so repeated invocations
    * (Bench's min-of-N loop, the 3-posture oracle sweeps, the per-query
    * spec calls) measure the SERVING path, not a rebuild, and a JVM
    * holds one corpus copy per dataset instead of one per call. Content
    * is a pure function of the dataset dir (deterministic centroids and
    * assignment), so reuse is sound within a JVM; dirs are TempDirs-
    * registered and shutdown-hook cleaned like every other staging
    * table.
    */
  private val ivfIndexCache = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // TempDirs.drain() deletes the cached index dirs: the existence check
    // inside cachedIndexDir below still races a drain landing between the
    // lookup returning and the lazy scan listing the dir, so the drain
    // also clears this registry (see TempDirs.onDrain) — the window
    // closes at the cache, not just at the filesystem.
    graft.TempDirs.onDrain(() => m.clear())
    m
  }

  /** Get-or-build a cached per-JVM index location WITHOUT running a Spark
    * job while holding the cache's bin lock (round-11 "What's wrong #3":
    * the old compute()-wrapped build stalled any concurrent query whose
    * dataset hashed to the same bin for the full index-build duration).
    * The build runs UNLOCKED; merge() then publishes the first completed
    * build atomically — the lock is held only for an existence probe. A
    * losing racer's build is simply dropped (it lives in a TempDirs-
    * registered dir, cleaned at drain/shutdown like all staging); the
    * duplicate work is a cold-start race a production system absorbs the
    * same way. A cached entry is reused only if its path still exists —
    * TempDirs.drain() is a public mid-JVM cleanup hook the suites
    * exercise.
    */
  private def cachedIndexDir(key: String)(build: => String): String = {
    def live(p: String): Boolean =
      p != null && java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val cur = ivfIndexCache.get(key)
    if (live(cur)) cur
    else {
      val built = build
      ivfIndexCache.merge(key, built,
        (old, fresh) => if (live(old)) old else fresh)
    }
  }

  private[queries] def ivfPrunedTopk(spark: SparkSession, dir: String,
      batch: Int, nprobe: Int): DataFrame = {
    val v = Q.materialize(vecs(spark, dir))
    val cent = Q.materialize(centroidsFrom(v))
    // INDEX BUILD (once per dataset per JVM): one directory per
    // quantizer cell; at production scale this is a snapshot-table
    // commit whose layout maintenance (OPTIMIZE per cell directory) the
    // src_* family already demonstrates.
    val idx = cachedIndexDir(dir) {
      val path = s"${graft.TempDirs.create("graft_ivf_idx")}/index.parquet"
      val assign = assignAgainst(v, cent).select(col("vec_id"), col("cell"))
      v.join(assign, "vec_id")
        .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      path
    }
    // The probe batch runs ONCE (materialized): its rows feed both the
    // driver-side partition predicate below and the broadcast join side.
    val q = Q.materialize(
      cellRanks(v.filter(col("vec_id") < batch), cent, nprobe,
          carry = Seq("e", "nrm"))
        .select(col("vec_id").as("query_id"), col("cell"),
          col("e").as("qe"), col("nrm").as("qn")))
    // The batch's probe set IS the partition predicate: batch*nprobe
    // cells, driver-bounded by construction (a query batch is small by
    // definition — this collect scales with the REQUEST, not the corpus).
    val probed = q.select(col("cell")).distinct().collect().map(_.get(0))
    val cellType = cent.schema("cell").dataType
    val cand = spark.read.parquet(idx)
      .filter(col("cell").isin(probed: _*)) // -> PartitionFilters, pruned listing
      .select(col("vec_id").as("neighbor_id"),
        col("cell").cast(cellType).as("ccell"),
        col("e").as("ce"), col("nrm").as("cn"))
    scoreTopkCosine(q, cand)
  }

  /** The hierarchical-descent pruned search behind [[topkHierPruned]]:
    * [[ivfPrunedTopk]]'s index-as-layout economics with [[hierCellRanks]]
    * as BOTH the (amortized, sprobe=1) home assignment the index is
    * partitioned by and the (sprobe=2) per-batch probe picker. Exposed
    * with the knobs for HierPrunedSpec's pruning assertion.
    */
  private[queries] def hierPrunedTopk(spark: SparkSession, dir: String,
      batch: Int, nprobe: Int): DataFrame = {
    val (v, nv) = Q.materializeCounted(vecs(spark, dir))
    val m = knnSplitBits(spark, nv)
    val cent = Q.materialize(knnCentroids(v, nv))
    val sup = Q.materialize(supCentroids(v))
    // INDEX BUILD (once per dataset per JVM — same cache/revalidation
    // discipline as the flat layout; the key is namespaced because the
    // hier index partitions by the ADAPTIVE cell, not the label cell).
    val idx = cachedIndexDir(s"hier:$dir") {
      val path = s"${graft.TempDirs.create("graft_hier_idx")}/index.parquet"
      val home = hierCellRanks(v, sup, cent, c => c >> m, sprobe = 1, p = 1)
        .select(col("vec_id"), col("cell"))
      v.join(home, "vec_id")
        .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      path
    }
    val q = Q.materialize(
      hierCellRanks(v.filter(col("vec_id") < batch), sup, cent, c => c >> m,
          sprobe = 2, p = nprobe, carry = Seq("e", "nrm"))
        .select(col("vec_id").as("query_id"), col("cell"),
          col("e").as("qe"), col("nrm").as("qn")))
    // The DESCENT's probe set IS the partition predicate (batch*nprobe
    // cells, request-scale by construction — same justification as the
    // flat pruned form).
    val probed = q.select(col("cell")).distinct().collect().map(_.get(0))
    val cellType = cent.schema("cell").dataType
    val cand = spark.read.parquet(idx)
      .filter(col("cell").isin(probed: _*)) // -> PartitionFilters, pruned listing
      .select(col("vec_id").as("neighbor_id"),
        col("cell").cast(cellType).as("ccell"),
        col("e").as("ce"), col("nrm").as("cn"))
    scoreTopkCosine(q, cand)
  }

  /** The hier index as a COMMITTED SNAPSHOT TABLE (round-11 ask #5): at
    * 100 TB an ANN index is a maintained table, not a process-local
    * directory — it needs transactional rebuild, time travel, and layout
    * maintenance like any other corpus asset. The index rows
    * (vec_id, e, nrm, home cell) commit through Snapshots.publish (v1)
    * and are immediately OPTIMIZE'd into a cell-range-clustered layout
    * via Snapshots.compact on the cell column (v2), so every data file's
    * parquet footer bounds a disjoint cell range. Returns the table path
    * (per-JVM amortized via [[cachedIndexDir]] — the build races and
    * drain revalidation are the cache's concern, the COMMIT atomicity is
    * the table's: a rebuild is invisible to readers until its one
    * manifest CAS, so no reader ever lists a half-built index, which the
    * raw-TempDir layout guaranteed only via the drain-hook fix).
    */
  private[graft] def hierSnapIndexTable(spark: SparkSession,
      dir: String): String =
    // The vector/centroid frames live INSIDE the build closure (round
    // 14): they exist only to build the index, so materializing them
    // before the cache probe charged every SERVING call (index already
    // committed, closure never runs) three checkpoint jobs plus the
    // split-bits count for frames it immediately dropped.
    cachedIndexDir(s"hiersnap:$dir") {
      val (v, nv) = Q.materializeCounted(vecs(spark, dir))
      val m = knnSplitBits(spark, nv)
      val cent = Q.materialize(knnCentroids(v, nv))
      val sup = Q.materialize(supCentroids(v))
      val table = s"${graft.TempDirs.create("graft_hier_snap")}/index_table"
      val home = hierCellRanks(v, sup, cent, c => c >> m, sprobe = 1, p = 1)
        .select(col("vec_id"), col("cell"))
      val rows = v.join(home, "vec_id")
        .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
      graft.sources.Snapshots.publish(rows, table) // v1: transactional build
      graft.sources.Snapshots.compact(spark, table, 16, col("cell")) // v2: OPTIMIZE
      table
    }

  /** The snapshot-SERVED hierarchical search behind [[topkHierSnap]]:
    * identical descent and scoring to [[hierPrunedTopk]], but candidate
    * fetch resolves ONE COMMITTED VERSION of the index table and reads
    * each probed cell through Snapshots.readRange — file-level footer
    * min/max pruning THROUGH the transaction layer (batch·nprobe pruned
    * point-range reads out of the cell-clustered layout) instead of a
    * raw directory listing. The version pin is what a serving fleet
    * holds across a request: a concurrent rebuild (a new publish/compact
    * commit) cannot change or tear this query's candidate set.
    */
  private[queries] def hierSnapTopk(spark: SparkSession, dir: String,
      batch: Int, nprobe: Int): DataFrame = {
    val (v, nv) = Q.materializeCounted(vecs(spark, dir))
    val m = knnSplitBits(spark, nv)
    val cent = Q.materialize(knnCentroids(v, nv))
    val sup = Q.materialize(supCentroids(v))
    val table = hierSnapIndexTable(spark, dir)
    // Serving pins a committed version: every per-cell read below names
    // it explicitly, so the candidate set is immutable for the whole
    // request whatever a concurrent rebuild commits.
    val ver = graft.sources.Snapshots.latestVersion(table)
    val q = Q.materialize(
      hierCellRanks(v.filter(col("vec_id") < batch), sup, cent, c => c >> m,
          sprobe = 2, p = nprobe, carry = Seq("e", "nrm"))
        .select(col("vec_id").as("query_id"), col("cell"),
          col("e").as("qe"), col("nrm").as("qn")))
    // Request-scale collect (batch·nprobe cells), same bound as the
    // pruned layouts.
    val probed = q.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).sorted
    // Zero probed cells (empty dataset, or no vec_id < batch) must
    // degrade to an empty result like hierPrunedTopk's isin(probed)
    // does. The whole probe set fetches as ONE footer-pruned multi-point
    // read (round 13; was one readRange per cell = batch·nprobe
    // manifest/stats walks and as many unioned scan nodes — N driver
    // passes for a single request's candidate fetch).
    val fetched =
      if (probed.isEmpty)
        graft.sources.Snapshots.read(spark, table, Some(ver)).filter(lit(false))
      else graft.sources.Snapshots.readPoints(spark, table, "cell",
        probed.toSeq, Some(ver))
    val cand = fetched
      .select(col("vec_id").as("neighbor_id"), col("cell").as("ccell"),
        col("e").as("ce"), col("nrm").as("cn"))
    scoreTopkCosine(q, cand)
  }

  // ---- Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") ------------------------------------------
  //
  // The 64-dim vectors split into M=4 contiguous 16-dim subvectors; each
  // subspace gets its own k-cell codebook (per-label mean subvectors — the
  // same label seeding as the IVF quantizer, so k = #labels), and a vector
  // is stored as M small codes. Asymmetric distance (ADC): a query keeps
  // its EXACT subvectors and scores a database vector as the sum of
  // query-subvector→codeword distances read from a per-query lookup table.
  // This is the memory-side scale path a real ANN system pairs with IVF:
  // 100 TB of float vectors become M bytes per vector + a broadcast
  // codebook, and the scan never touches the original floats.

  private val PqM = 4
  private val PqSubDim = 16

  /** (vec_id, label, s, se): each vector split into M contiguous
    * subvectors — built scan-side from one explode, no shuffle.
    */
  private def pqSub(v: DataFrame): DataFrame = {
    val parts = (0 until PqM).map(s =>
      struct(lit(s).as("s"), slice(col("e"), s * PqSubDim + 1, PqSubDim).as("se")))
    v.select(col("vec_id"), col("label"), explode(array(parts: _*)).as("x"))
      .select(col("vec_id"), col("label"), col("x.s").as("s"),
        col("x.se").as("se"))
  }

  /** Per-(subspace, cell) mean subvector: the M independent sub-codebooks,
    * components rounded to 6 decimals pre-distance (the cross-engine
    * centroid convention).
    */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.select(col("s"), col("label").as("cell"), posexplode(col("se")))
      .groupBy(col("s"), col("cell"), col("pos"))
      .agg(round(avg(col("col")) + lit(1e-9), 6).as("c"))
      .groupBy(col("s"), col("cell"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))

  /** Every (vec_id, s, cell) squared-L2 score against the BROADCAST
    * codebook (M·k rows) — the shared scoring frame of encode and LUT.
    */
  private def pqScored(sub: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = dot(col("se"), col("se")) -
      lit(2) * dot(col("se"), col("centroid")) +
      dot(col("centroid"), col("centroid"))
    sub.join(broadcast(cb), "s")
      .withColumn("d2_raw", d2)
      .select(col("vec_id"), col("s"), col("cell"), col("d2_raw"))
  }

  /** Argmin cell per (vec_id, subspace) via min-of-struct aggregation —
    * NOT a window: min(struct(rounded_d2, cell, d2)) partial-aggregates on
    * the map side, so the k-way scoring explosion collapses to one row per
    * (vector, subspace) BEFORE any shuffle (a row_number window would
    * shuffle all N·M·k scored rows). (rd, cell) is unique per group, so
    * the lexicographic min is exactly the oracle's row_number rk=1.
    */
  private def pqEncode(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(round(col("d2_raw") + lit(1e-9), 6).as("rd"),
        col("cell"), col("d2_raw"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.cell").as("code"),
        col("m.d2_raw").as("d2_raw"))

  /** Shared PQ CTE chain: expects `n` ([[VecsSql]]); defines sub/cb/escored
    * and `enc(vec_id, s, code)` — the codes table.
    */
  private val PqSql = s"""
           sub AS (SELECT vec_id, label, s,
                          e[s*$PqSubDim+1:s*$PqSubDim+$PqSubDim] AS se
                   FROM n, range(0, $PqM) t(s)),
           cb AS (SELECT s, cell, list(c ORDER BY pos) AS centroid
                  FROM (SELECT s, label AS cell, i AS pos,
                               round(avg(se[i+1]) + 1e-9, 6) AS c
                        FROM (SELECT s, label, se,
                                     unnest(range(0, len(se))) AS i FROM sub)
                        GROUP BY s, cell, pos)
                  GROUP BY s, cell),
           escored AS (
             SELECT sub.vec_id, sub.s, cb.cell,
                    list_dot_product(sub.se, sub.se)
                      - 2 * list_dot_product(sub.se, cb.centroid)
                      + list_dot_product(cb.centroid, cb.centroid) AS d2_raw
             FROM sub JOIN cb ON cb.s = sub.s),
           enc AS (
             SELECT vec_id, s, cell AS code, d2_raw
             FROM (SELECT *, row_number() OVER (
                     PARTITION BY vec_id, s
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                   FROM escored)
             WHERE rk = 1)"""

  val pqEncodeQ = Q(
    "sim_pq_encode",
    "Product-quantization encoding (Jégou et al. 2011): each 64-dim vector " +
      "split into 4 contiguous 16-dim subvectors, each assigned to the " +
      "nearest cell of its subspace's codebook (per-label mean subvectors, " +
      "components rounded pre-distance) — the vector becomes 4 small " +
      "codes. The codebook (M·k rows) broadcasts; the argmin is a " +
      "min-of-struct aggregation that partial-aggregates map-side, so the " +
      "k-way scoring explosion never reaches a shuffle. At 100 TB this is " +
      "how float vectors leave the hot path: codes + a broadcast codebook.",
    Some(s"""
      WITH n AS ($VecsSql),$PqSql
      SELECT vec_id, s::BIGINT AS subspace, code::BIGINT AS code,
             round(d2_raw + 1e-6, 2) AS dist2
      FROM enc""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      val sub = pqSub(v)
      val cb = pqCodebook(sub)
      pqEncode(pqScored(sub, cb))
        .select(col("vec_id"), col("s").cast("long").as("subspace"),
          col("code").cast("long").as("code"),
          Det.r2e(col("d2_raw")).as("dist2"))
    })

  val topkPqAdc = Q(
    "sim_topk_pq_adc",
    "PQ asymmetric-distance top-5 for the 20-query batch: each query keeps " +
      "its EXACT subvectors and builds a per-subspace lookup table of " +
      "query→codeword distances (Q·M·k rows — broadcast); database " +
      "vectors are scored from their CODES ALONE by an equi join on " +
      "(subspace, code) + a sum — the original floats never enter the " +
      "scan. Distances enter the LUT as exact micro-units " +
      "(floor(d2·1e6) over bit-identical doubles), so the ADC sum is " +
      "pure BIGINT arithmetic — order-free, hash-exact, no FP-summation " +
      "divergence. The plan: codes stream once, broadcast-hash-join " +
      "against the LUT, partial-aggregated sum per (query, neighbor), " +
      "one rank window over Q·N score rows.",
    Some(s"""
      WITH n AS ($VecsSql),$PqSql,
           lut AS (
             SELECT vec_id AS query_id, s, cell,
                    floor(d2_raw * 1e6 + 1e-3)::BIGINT AS d2i
             FROM escored WHERE vec_id < 20),
           adc AS (
             SELECT lut.query_id, enc.vec_id AS neighbor_id,
                    sum(d2i)::BIGINT AS adc_d2_micro
             FROM enc JOIN lut ON lut.s = enc.s AND lut.cell = enc.code
             WHERE enc.vec_id <> lut.query_id
             GROUP BY lut.query_id, enc.vec_id)
      SELECT query_id, neighbor_id, rank, adc_d2_micro
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY adc_d2_micro, neighbor_id) AS rank
            FROM adc)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      val sub = pqSub(v)
      // The M·k-row codebook feeds two broadcast subtrees (codes + LUT) —
      // without materialization each re-runs the codebook aggregation.
      val cb = Q.materialize(pqCodebook(sub))
      val codes = pqEncode(pqScored(sub, cb))
        .select(col("vec_id").as("neighbor_id"), col("s"), col("code"))
      val lut = pqScored(pqSub(v.filter(col("vec_id") < 20)), cb)
        .select(col("vec_id").as("query_id"), col("s").as("ls"),
          col("cell"), floor(col("d2_raw") * 1e6 + 1e-3).cast("long").as("d2i"))
      val adc = codes
        .join(broadcast(lut),
          col("s") === col("ls") && col("code") === col("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("d2i")).cast("long").as("adc_d2_micro"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_d2_micro"), col("neighbor_id"))
      adc.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("adc_d2_micro"))
    })

  val topkIvfPq = Q(
    "sim_topk_ivfpq",
    "IVF-PQ top-5 — THE billion-scale ANN composition (FAISS IVFPQ, " +
      "Jégou et al. 2011 §V): the coarse quantizer prunes the search to " +
      "each query's nprobe=2 nearest cells, and within them candidates " +
      "are ranked by asymmetric distance computed from their 4 PQ CODES " +
      "alone — the scan touches neither the database floats (PQ's " +
      "contract) nor the unprobed cells (IVF's contract). Every step is " +
      "an equi join: probe set × cell assignment (cell key), candidates " +
      "× codes (vector key), codes × broadcast per-query LUT " +
      "(subspace, code); ADC sums BIGINT micro-units — order-free, " +
      "hash-exact. At 100 TB: codes+cells are the only persisted index " +
      "(bytes per vector), the codebook and LUT broadcast, and cost per " +
      "query is O(candidates in probed cells), not O(N).",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,$PqSql,
           probes AS (
             SELECT vec_id, cell
             FROM (SELECT vec_id, cell, row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                   FROM cscored WHERE vec_id < 20)
             WHERE rk <= 2),
           lut AS (
             SELECT vec_id AS query_id, s, cell AS code,
                    floor(d2_raw * 1e6 + 1e-3)::BIGINT AS d2i
             FROM escored WHERE vec_id < 20),
           cand AS (
             SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assign a ON a.cell = p.cell
             WHERE a.vec_id <> p.vec_id),
           adc AS (
             SELECT c.query_id, c.neighbor_id, sum(d2i)::BIGINT AS adc_d2_micro
             FROM cand c
             JOIN enc ON enc.vec_id = c.neighbor_id
             JOIN lut ON lut.query_id = c.query_id AND lut.s = enc.s
                     AND lut.code = enc.code
             GROUP BY c.query_id, c.neighbor_id)
      SELECT query_id, neighbor_id, rank, adc_d2_micro
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY adc_d2_micro, neighbor_id) AS rank
            FROM adc)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => ivfPqTopk(spark, dir, nprobe = 2))

  /** The IVF-PQ composition behind [[topkIvfPq]] with the nprobe knob
    * exposed (the declared query pins nprobe=2; IvfPqRecallSpec compares
    * compositions at nprobe 1 and 2 against brute-force truth).
    */
  private[queries] def ivfPqTopk(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val v = Q.materialize(vecs(spark, dir))
    // Centroids and codebook each feed two broadcast subtrees
    // (assignment+probes, codes+LUT) — materialized for the same
    // no-exchange-reuse reason as probe2 / pq_adc.
    val cent = Q.materialize(centroidsFrom(v))
    val assign = assignAgainst(v, cent).select(col("vec_id"), col("cell"))
    val sub = pqSub(v)
    val cb = Q.materialize(pqCodebook(sub))
    val codes = pqEncode(pqScored(sub, cb))
      .select(col("vec_id").as("neighbor_id"), col("s"), col("code"))
    val probes = cellRanks(v.filter(col("vec_id") < 20), cent, nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val lut = pqScored(pqSub(v.filter(col("vec_id") < 20)), cb)
      .select(col("vec_id").as("lq"), col("s").as("ls"),
        col("cell").as("lcode"),
        floor(col("d2_raw") * 1e6 + 1e-3).cast("long").as("d2i"))
    val cand = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val adc = cand.join(codes, "neighbor_id")
      .join(broadcast(lut), col("query_id") === col("lq") &&
        col("s") === col("ls") && col("code") === col("lcode"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2i")).cast("long").as("adc_d2_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2_micro"), col("neighbor_id"))
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_d2_micro"))
  }

  val nearDup = Q(
    "dedup_embedding_cosine",
    "Embedding near-dup pairs at cosine ≥ 0.45 via random-hyperplane LSH: " +
      "sign-bit band buckets generate candidates (equi joins on bucket " +
      "keys — no all-pairs product anywhere in the plan), then ONLY the " +
      "candidates get the exact cosine verify, mirroring the MinHash→" +
      "verify text pipeline. Recall is the LSH contract: ≥99.6% for true " +
      "near-dups (cos ≥ 0.8), partial for marginal pairs on isotropic " +
      "noise — EmbeddingLshRecallSpec commits the measured numbers. " +
      "Round 1's exact N² BroadcastNestedLoopJoin formulation is retired; " +
      "the oracle mirrors the same seeded planes, so results stay " +
      "hash-exact.",
    Some(s"""
      WITH n AS ($VecsSql),$HpCandSql
      SELECT c.vec_a, c.vec_b,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 1e-8, 4)
               AS cosine
      FROM cand c
      JOIN n a ON a.vec_id = c.vec_a
      JOIN n b ON b.vec_id = c.vec_b
      WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45""".stripMargin),
    (spark, dir) => {
      // One scan of embeddings: the normalized vectors are checkpointed and
      // reused by the band-key subtree and both sides of the verify join.
      // NOT fanned (round 14, VERDICT r13 #3 adjudicated by ABBA A/B at
      // local[32]/sf0.1/min-of-5: fan=true 1.81/1.65 s vs fan=false
      // 1.55/1.34 s raw, calibration-normalized a wash): the r13
      // fan=true here was extrapolated from the mplsh A/B, but unlike
      // mplsh this pipeline is dominated by the bucket-join shuffles
      // AFTER the band keying, so the extra scan exchange bought
      // nothing. mplsh keeps its own measured fan=true.
      val v = Q.materialize(vecs(spark, dir))
      val a = v.select(col("vec_id").as("vec_a"), col("e").as("ae"),
        col("nrm").as("an"))
      val b = v.select(col("vec_id").as("vec_b"), col("e").as("be"),
        col("nrm").as("bn"))
      val cosRaw = dot(col("ae"), col("be")) / (col("an") * col("bn"))
      hyperplaneCandidates(v)
        .join(a, "vec_a").join(b, "vec_b")
        .withColumn("cos_raw", cosRaw)
        .filter(col("cos_raw") >= 0.45)
        .select(col("vec_a"), col("vec_b"), r4e(col("cos_raw")).as("cosine"))
    })

  val semanticDedup = Q(
    "dedup_semantic",
    "SemDeDup (Abbas et al. 2023): cluster-then-dedup — vectors are " +
      "grouped by their k-means cell (the sim_kmeans_assign quantizer), " +
      "pairwise cosine runs ONLY within each cell (an equi self-join on " +
      "the cell key — a hash join over cell blocks, never a global " +
      "product), and pairs at cosine ≥ 0.45 are the semantic duplicates. " +
      "Output is the per-cell dedup census: vectors, pairs scored, dups " +
      "found, max cosine. The published contract is that k scales with N " +
      "so cells stay bounded (SemDeDup uses 11k clusters for 600M docs); " +
      "here k = 10 label-seeded cells exercise the machinery. The " +
      "N²-within-cell cost is the algorithm's own design point, not a " +
      "plan accident — the cell join is the same per-bucket block shape " +
      "as sim_topk_ivf.",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           na AS (SELECT n.*, assign.cell FROM n
                  JOIN assign ON assign.vec_id = n.vec_id),
           sizes AS (SELECT cell, count(*) AS n_vectors FROM na GROUP BY cell),
           pairs AS (SELECT a.cell,
                            list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
                     FROM na a JOIN na b ON a.cell = b.cell
                                        AND a.vec_id < b.vec_id),
           stats AS (SELECT cell, count(*) AS n_pairs,
                            sum(CASE WHEN cos_raw >= 0.45 THEN 1 ELSE 0 END) AS n_dup_pairs,
                            max(cos_raw) AS mc
                     FROM pairs GROUP BY cell)
      SELECT sizes.cell AS cell, n_vectors, n_pairs::BIGINT AS n_pairs,
             n_dup_pairs::BIGINT AS n_dup_pairs,
             round(mc + 1e-8, 4) AS max_cosine
      FROM sizes JOIN stats ON stats.cell = sizes.cell""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      val na = v.join(kmeansAssignFrom(v).select(col("vec_id"), col("cell")),
        "vec_id")
      val sizes = na.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      val a = na.select(col("cell"), col("vec_id").as("va"),
        col("e").as("ae"), col("nrm").as("an"))
      val b = na.select(col("cell").as("bcell"), col("vec_id").as("vb"),
        col("e").as("be"), col("nrm").as("bn"))
      val stats = a
        .join(b, col("cell") === col("bcell") && col("va") < col("vb"))
        .withColumn("cos_raw",
          dot(col("ae"), col("be")) / (col("an") * col("bn")))
        .groupBy(col("cell"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("cos_raw") >= 0.45, 1L).otherwise(0L))
            .cast("long").as("n_dup_pairs"),
          r4e(max(col("cos_raw"))).as("max_cosine"))
      sizes.join(stats, "cell")
        .select(col("cell"), col("n_vectors"), col("n_pairs"),
          col("n_dup_pairs"), col("max_cosine"))
    })

  val modalCuration = Q(
    "pipeline_modal_curation",
    "Cross-modal curation matrix — the text and embedding families joined " +
      "in one plan: every document's composite quality score (TextOps' " +
      "shared expression) meets its embedding's k-means cell (the " +
      "sim_kmeans_assign quantizer) on doc_id = vec_id, aggregated to the " +
      "per-(cell, lang) census a data team reads to decide which " +
      "embedding-space regions × languages carry quality token mass. The " +
      "id join is equi (hash co-partitioned at scale); the centroid " +
      "broadcast is the quantizer's whitelisted k-row build side; avg " +
      "quality is epsilon-rounded (cross-group summation order).",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           q AS (SELECT doc_id, lang, n_tokens, n_distinct,
                        ${TextOps.QualitySql} AS quality
                 FROM (SELECT doc_id, lang,
                              len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
                              len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct
                       FROM documents))
      SELECT a.cell AS cell, q.lang AS lang, count(*) AS n_docs,
             sum(q.n_tokens)::BIGINT AS total_tokens,
             round(avg(q.quality) + 1e-6, 2) AS avg_quality
      FROM q JOIN assign a ON a.vec_id = q.doc_id
      GROUP BY cell, lang""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val q = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .withColumn("quality", TextOps.qualityCol)
      val assign = kmeansAssignFrom(Q.materialize(vecs(spark, dir)))
        .select(col("vec_id").as("doc_id"), col("cell"))
      q.join(assign, "doc_id")
        .groupBy(col("cell"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          Det.r2e(avg(col("quality"))).as("avg_quality"))
    })

  val histogram = Q(
    "sim_cosine_histogram",
    "Cosine distribution of the LSH candidate pairs in 0.1 buckets — the " +
      "profile used to pick dedup thresholds from the survivors of the " +
      "banding stage (the population the verify stage actually pays for). " +
      "Round 1 histogrammed all N² pairs through a cartesian product; at " +
      "scale only the candidate distribution is computable, and it is the " +
      "one that matters for threshold tuning.",
    Some(s"""
      WITH n AS ($VecsSql),$HpCandSql
      SELECT floor((list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 1e-9) * 10)::BIGINT
               AS bucket,
             count(*) AS n_pairs
      FROM cand c
      JOIN n a ON a.vec_id = c.vec_a
      JOIN n b ON b.vec_id = c.vec_b
      GROUP BY bucket""".stripMargin),
    (spark, dir) => {
      // NOT fanned (round 14): same pipeline shape as
      // dedup_embedding_cosine, whose ABBA A/B reverted the extrapolated
      // r13 fan=true (see its comment).
      val v = Q.materialize(vecs(spark, dir))
      val a = v.select(col("vec_id").as("vec_a"), col("e").as("ae"),
        col("nrm").as("an"))
      val b = v.select(col("vec_id").as("vec_b"), col("e").as("be"),
        col("nrm").as("bn"))
      val cosRaw = dot(col("ae"), col("be")) / (col("an") * col("bn"))
      hyperplaneCandidates(v)
        .join(a, "vec_a").join(b, "vec_b")
        .select(floor((cosRaw + lit(1e-9)) * 10).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    })

  val labelCentroid = Q(
    "sim_label_centroid",
    "Per-cell centroids (mean pooling per dimension) — the IVF training " +
      "step and the embedding-aggregation primitive. posexplode + " +
      "(label, dim) aggregation: one shuffle, dims stay distributed (no " +
      "collect of vectors).",
    Some("""
      SELECT label, i::BIGINT AS pos,
             round(avg(embedding[i + 1]::DOUBLE) + 1e-9, 6) AS c,
             count(*) AS n
      FROM (SELECT label, embedding,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
      GROUP BY label, pos""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "embeddings")
        .select(col("label"),
          posexplode(transform(col("embedding"), x => x.cast("double"))))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("col")) + lit(1e-9), 6).as("c"),
          count(lit(1)).as("n")))

  val dimStats = Q(
    "sim_dim_stats",
    "Per-dimension distribution statistics over the embedding corpus — " +
      "the whitening / normalization / PCA-preprocessing primitive (and " +
      "the drift monitor a production vector pipeline runs per batch): " +
      "mean, sample variance, min, max for each of the 64 dimensions in " +
      "ONE posexplode + (dim) aggregation — all four moments are " +
      "algebraic, so the map side reduces every partition to 64 partial " +
      "rows regardless of corpus size and vectors never collect. " +
      "mean/variance are epsilon-rounded (summation-order noise); " +
      "min/max are exact float widenings.",
    Some("""
      SELECT i::BIGINT AS pos,
             round(avg(embedding[i + 1]::DOUBLE) + 1e-8, 4) AS mean,
             round(var_samp(embedding[i + 1]::DOUBLE) + 1e-8, 4) AS variance,
             min(embedding[i + 1])::DOUBLE AS vmin,
             max(embedding[i + 1])::DOUBLE AS vmax
      FROM (SELECT embedding, unnest(range(0, len(embedding))) AS i
            FROM embeddings)
      GROUP BY pos""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "embeddings")
        .select(posexplode(transform(col("embedding"), x => x.cast("double"))))
        .groupBy(col("pos").cast("long").as("pos"))
        .agg(Det.r4e(avg(col("col"))).as("mean"),
          Det.r4e(var_samp(col("col"))).as("variance"),
          min(col("col")).as("vmin"),
          max(col("col")).as("vmax")))

  val powerIteration = Q(
    "sim_power_iteration",
    "Two rounds of distributed power iteration toward the top principal " +
      "component — the spectral/PCA primitive (whitening's companion to " +
      "sim_dim_stats): v ← AᵀAv / ‖AᵀAv‖ without EVER materializing the " +
      "64×64 Gram matrix or collecting a vector. Per round: the 64-value " +
      "v packs into a 1-row array (64-row sort_array collect — bounded, " +
      "not data-scale), broadcasts across the corpus for per-row dots " +
      "via the native ordered-fold ArrayDot (bit-identical to DuckDB's " +
      "list_dot_product, no rounding needed), then Av's weighted " +
      "column-sums reduce by dimension — the ONE data-scale aggregation, " +
      "64 partial rows per partition. Every cross-row aggregate is " +
      "rounded to 6 decimals on both engines before reuse, so FP " +
      "summation-order noise cannot compound across rounds. (These " +
      "embeddings are isotropic noise — the spectrum is flat, so the " +
      "direction after 2 rounds is data- and seed-determined rather " +
      "than a dominant eigenvector; the machinery, not the geometry, is " +
      "what's exercised — honestly, as with PQ recall.)",
    Some("""
      WITH v0 AS (SELECT list_transform(range(0, 64), i -> 0.125::DOUBLE) AS varr),
           d1 AS (SELECT vec_id, embedding,
                         list_dot_product(list_transform(embedding, x -> x::DOUBLE), varr) AS dot
                  FROM embeddings, v0),
           u1 AS (SELECT i AS pos, round(sum(embedding[i + 1]::DOUBLE * dot) + 1e-9, 6) AS u
                  FROM (SELECT embedding, dot, unnest(range(0, 64)) AS i FROM d1)
                  GROUP BY pos),
           n1 AS (SELECT round(sqrt(sum(u * u)) + 1e-9, 6) AS nrm FROM u1),
           v1 AS (SELECT pos, round(u / nrm + 1e-9, 6) AS v FROM u1, n1),
           va1 AS (SELECT list(v ORDER BY pos) AS varr FROM v1),
           d2 AS (SELECT vec_id, embedding,
                         list_dot_product(list_transform(embedding, x -> x::DOUBLE), varr) AS dot
                  FROM embeddings, va1),
           u2 AS (SELECT i AS pos, round(sum(embedding[i + 1]::DOUBLE * dot) + 1e-9, 6) AS u
                  FROM (SELECT embedding, dot, unnest(range(0, 64)) AS i FROM d2)
                  GROUP BY pos),
           n2 AS (SELECT round(sqrt(sum(u * u)) + 1e-9, 6) AS nrm FROM u2),
           v2 AS (SELECT pos, round(u / nrm + 1e-9, 6) AS v FROM u2, n2)
      SELECT pos::BIGINT AS pos, v AS pc FROM v2""".stripMargin),
    (spark, dir) => {
      val vecs = Q.materialize(t(spark, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e")))
      val v0 = spark.range(64)
        .select(col("id").cast("int").as("pos"), lit(0.125).as("v"))
      powerIterate(vecs, powerIterate(vecs, v0))
        .select(col("pos").cast("long").as("pos"), col("v").as("pc"))
    })

  /** One power-iteration round v ← AᵀAv/‖AᵀAv‖ over a frame with array
    * column `e`, from/to a 64-row (pos, v) frame — the body of
    * sim_power_iteration, reusable so PowerIterationSpec can run extra
    * rounds on planted anisotropic data.
    */
  private[queries] def powerIterate(vecs: DataFrame, v: DataFrame): DataFrame = {
    def round6(c: Column) = round(c + lit(1e-9), 6)
    val varr = v.agg(transform(
      sort_array(collect_list(struct(col("pos"), col("v")))),
      x => x.getField("v")).as("varr"))
    val u = vecs.crossJoin(broadcast(varr))
      .select(col("e"),
        graft.functions.Vectors.arrDot(col("e"), col("varr")).as("dot"))
      .select(posexplode(col("e")), col("dot"))
      .groupBy(col("pos"))
      .agg(round6(sum(col("col") * col("dot"))).as("u"))
    val nrm = u.agg(round6(sqrt(sum(col("u") * col("u")))).as("nrm"))
    u.crossJoin(broadcast(nrm))
      .select(col("pos"), round6(col("u") / col("nrm")).as("v"))
  }

  val topkSq8 = Q(
    "sim_topk_sq8",
    "Scalar-quantized (SQ8) top-5 — the OTHER standard vector-index " +
      "compression (FAISS SQ8 / Milvus IVF_SQ8, next to sim_pq_encode's " +
      "product quantizer): each dimension is affinely mapped to an 8-bit " +
      "code by the corpus per-dim min/max (64 rows — broadcast), and " +
      "search ranks by squared L2 IN CODE SPACE, where every distance " +
      "is an exact small integer (codes ≤ 255, 64 dims → d² ≤ 2^27, " +
      "double-exact, cast BIGINT — order-free, hash-exact, the ADC " +
      "micro-unit trick without even needing micro-units). The corpus " +
      "scans once into the code table (4× smaller than floats — the " +
      "index build a cluster persists); the 20-query code batch " +
      "broadcasts; ranking is the rounded-measure window with id " +
      "tie-break. Embeddings are unit-norm, so code-space L2 agrees " +
      "with the cosine ranking up to quantization noise — " +
      "Sq8RecallSpec commits the measured recall against " +
      "sim_topk_bruteforce. Dims with mx = mn (constant) code to 0 on " +
      "both engines instead of dividing by zero.",
    Some(s"""
      WITH n AS ($VecsSql),
           ex AS (SELECT vec_id, i AS pos, e[i+1] AS x
                  FROM (SELECT vec_id, e, unnest(range(0, len(e))) AS i
                        FROM n)),
           mm AS (SELECT pos, min(x) AS mn, max(x) AS mx
                  FROM ex GROUP BY pos),
           qx AS (SELECT vec_id, ex.pos,
                         CASE WHEN mx = mn THEN 0.0
                              ELSE least(255.0, greatest(0.0,
                                floor((x - mn) / (mx - mn) * 255 + 1e-9)))
                         END AS q
                  FROM ex JOIN mm ON mm.pos = ex.pos),
           codes AS (SELECT vec_id, list(q ORDER BY pos) AS qa
                     FROM qx GROUP BY vec_id),
           sq AS (SELECT vec_id, qa, list_dot_product(qa, qa) AS s2
                  FROM codes),
           scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                             (q.s2 + c.s2
                               - 2 * list_dot_product(q.qa, c.qa))::BIGINT
                               AS sq8_d2
                      FROM sq q JOIN sq c
                        ON q.vec_id < 20 AND c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, rank, sq8_d2
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY sq8_d2, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir))
      // One explosion feeds BOTH the per-dim range scan and the encode.
      val ex = Q.materialize(
        v.select(col("vec_id"), posexplode(col("e"))))
      val mm = ex.groupBy(col("pos"))
        .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      val qx = ex.join(broadcast(mm), "pos")
        .select(col("vec_id"), col("pos"),
          when(col("mx") === col("mn"), lit(0.0))
            .otherwise(least(lit(255L), greatest(lit(0L),
              floor((col("col") - col("mn")) / (col("mx") - col("mn"))
                * 255 + 1e-9))).cast("double")).as("q"))
      // Code-array rebuild: one (vec_id) shuffle — the index-build cost a
      // cluster pays once and persists (codes are the index, 1 byte/dim).
      val codes = Q.materialize(qx
        .groupBy(col("vec_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("q")))),
          x => x.getField("q")).as("qa"))
        .withColumn("s2", dot(col("qa"), col("qa"))))
      val q = codes.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("qa").as("qq"),
          col("s2").as("qs2"))
      val scored = broadcast(q)
        .join(codes.select(col("vec_id").as("neighbor_id"), col("qa"),
          col("s2")), col("neighbor_id") =!= col("query_id"))
        .withColumn("sq8_d2",
          (col("qs2") + col("s2") - lit(2.0) * dot(col("qq"), col("qa")))
            .cast("long"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sq8_d2"), col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("sq8_d2"))
    })

  val topkMrl = Q(
    "sim_topk_mrl",
    "Matryoshka funnel retrieval (Kusupati et al. 2022 MRL; the " +
      "shortlist-then-rerank deployment pattern): stage 1 scores every " +
      "candidate with only the FIRST 16 dimensions (prefix cosine — " +
      "MRL-trained embeddings pack coarse semantics into the prefix; a " +
      "¼-width scan and ¼ the multiplies) and keeps a top-20 shortlist " +
      "per query; stage 2 re-fetches ONLY the shortlist's full vectors " +
      "by an equi join on id and reranks with the exact 64-dim cosine " +
      "to the final top-5. At 100 TB the funnel is the plan: the " +
      "corpus-wide pass touches a 16-float prefix column, full vectors " +
      "leave storage only for Q×20 candidate rows, and both stages " +
      "rank on rounded measures with id tie-breaks so shortlist " +
      "MEMBERSHIP (not just order) is engine-exact. Recall vs the " +
      "brute-force truth is committed in MrlRecallSpec — on these " +
      "isotropic test vectors the prefix is a weak (but unbiased) " +
      "filter, exactly the regime that makes the recall leg honest.",
    Some(s"""
      WITH n AS ($VecsSql),
           pre AS (SELECT vec_id, e[1:16] AS p, e, nrm,
                          sqrt(list_dot_product(e[1:16], e[1:16])) AS pn
                   FROM n),
           s1 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         list_dot_product(q.p, c.p) / (q.pn * c.pn) AS pcos
                  FROM pre q JOIN pre c
                    ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
           short AS (SELECT query_id, neighbor_id
                     FROM (SELECT *, row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY round(pcos + 1e-9, 6) DESC,
                                      neighbor_id) AS prk
                           FROM s1)
                     WHERE prk <= 20),
           rer AS (SELECT s.query_id, s.neighbor_id,
                          list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                            AS cos_raw
                   FROM short s
                   JOIN pre q ON q.vec_id = s.query_id
                   JOIN pre c ON c.vec_id = s.neighbor_id)
      SELECT query_id, neighbor_id, rank,
             round(cos_raw + 1e-8, 4) AS cosine
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(cos_raw + 1e-9, 6) DESC, neighbor_id) AS rank
            FROM rer)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => {
      val v = Q.materialize(vecs(spark, dir)
        .withColumn("p", slice(col("e"), 1, 16))
        .withColumn("pn", sqrt(dot(col("p"), col("p")))))
      val q = v.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("p").as("qp"),
          col("pn").as("qpn"))
      // Stage 1: prefix-only scoring — the corpus-wide pass reads 16
      // dims; the shortlist cut ranks on the ROUNDED prefix cosine so
      // membership is engine-exact.
      val shortlist = broadcast(q)
        .join(v.select(col("vec_id").as("neighbor_id"), col("p"),
          col("pn")), col("neighbor_id") =!= col("query_id"))
        .withColumn("pcos", dot(col("qp"), col("p")) / (col("qpn") * col("pn")))
        .withColumn("prk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(round(col("pcos") + lit(1e-9), 6).desc,
              col("neighbor_id"))))
        .filter(col("prk") <= 20)
        .select(col("query_id"), col("neighbor_id"))
      // Stage 2: full vectors fetched by equi join for candidates ONLY,
      // exact cosine rerank.
      val full = v.select(col("vec_id"), col("e"), col("nrm"))
      val rer = shortlist
        .join(full.select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qn")), "query_id")
        .join(full.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
          col("nrm").as("cn")), "neighbor_id")
        .withColumn("cos_raw",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      rer.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(round(col("cos_raw") + lit(1e-9), 6).desc,
              col("neighbor_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          r4e(col("cos_raw")).as("cosine"))
    })

  /** Elementwise residual `e - centroid` (both 6-decimal-rounded centroid
    * conventions upstream; the subtraction itself is exact IEEE).
    */
  private def residCol: Column =
    zip_with(col("e"), col("centroid"), (a, b) => a - b)

  /** [[pqSub]] generalized to carry an extra key column (the probed cell
    * of a per-cell query residual) through the subspace explosion.
    */
  private def pqSubCarry(v: DataFrame, carry: String): DataFrame = {
    val parts = (0 until PqM).map(s =>
      struct(lit(s).as("s"), slice(col("e"), s * PqSubDim + 1, PqSubDim).as("se")))
    v.select(col("vec_id"), col(carry), explode(array(parts: _*)).as("x"))
      .select(col("vec_id"), col(carry), col("x.s").as("s"),
        col("x.se").as("se"))
  }

  val topkIvfPqResidual = Q(
    "sim_topk_ivfpq_residual",
    "IVF-PQ with RESIDUAL encoding — the formulation FAISS IVFPQ " +
      "actually ships (Jégou et al. 2011 §V.A): PQ quantizes the " +
      "residual x − centroid(cell) instead of x itself, because " +
      "residuals concentrate around zero once the coarse quantizer has " +
      "explained the cell structure — the same code budget spends on a " +
      "smaller-variance distribution (strictly lower quantization error " +
      "than sim_topk_ivfpq's raw encoding, IvfPqResidualSpec; the margin " +
      "is thin HERE because the label-seeded sub-codebooks already own a " +
      "cell per label — at production scale, coarse cells outnumber " +
      "sub-codebook cells and the gap is the method's raison d'être). " +
      "The price is the LUT: a query's residual " +
      "differs per probed cell, so the distance table is keyed " +
      "(query, probed cell, subspace, code) — nprobe× the plain LUT, " +
      "still nq·nprobe·M·k rows, still a broadcast. Candidates join " +
      "their home cell's LUT slice (the probed cell IS the neighbor's " +
      "home cell), ADC sums BIGINT micro-units — order-free, " +
      "hash-exact. At 100 TB the persisted index is unchanged: codes + " +
      "cells per vector, centroids + one shared residual codebook " +
      "broadcast.",
    Some(s"""
      WITH n AS ($VecsSql),$CentroidsSql,$AssignSql,
           resid AS (SELECT n.vec_id, n.label,
                            list_transform(range(1, len(n.e) + 1),
                              i -> n.e[i] - c.centroid[i]) AS e
                     FROM n JOIN assign a ON a.vec_id = n.vec_id
                     JOIN cent c ON c.cell = a.cell),
           rsub AS (SELECT vec_id, label, s,
                           e[s*$PqSubDim+1:s*$PqSubDim+$PqSubDim] AS se
                    FROM resid, range(0, $PqM) t(s)),
           rcb AS (SELECT s, cell, list(c ORDER BY pos) AS centroid
                   FROM (SELECT s, label AS cell, i AS pos,
                                round(avg(se[i+1]) + 1e-9, 6) AS c
                         FROM (SELECT s, label, se,
                                      unnest(range(0, len(se))) AS i FROM rsub)
                         GROUP BY s, cell, pos)
                   GROUP BY s, cell),
           rescored AS (
             SELECT rsub.vec_id, rsub.s, rcb.cell,
                    list_dot_product(rsub.se, rsub.se)
                      - 2 * list_dot_product(rsub.se, rcb.centroid)
                      + list_dot_product(rcb.centroid, rcb.centroid) AS d2_raw
             FROM rsub JOIN rcb ON rcb.s = rsub.s),
           renc AS (SELECT vec_id, s, cell AS code
                    FROM (SELECT *, row_number() OVER (
                            PARTITION BY vec_id, s
                            ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                          FROM rescored)
                    WHERE rk = 1),
           probes AS (SELECT vec_id, cell
                      FROM (SELECT vec_id, cell, row_number() OVER (
                              PARTITION BY vec_id
                              ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                            FROM cscored WHERE vec_id < 20)
                      WHERE rk <= 2),
           qresid AS (SELECT n.vec_id, p.cell AS pcell,
                             list_transform(range(1, len(n.e) + 1),
                               i -> n.e[i] - c.centroid[i]) AS e
                      FROM n JOIN probes p ON p.vec_id = n.vec_id
                      JOIN cent c ON c.cell = p.cell),
           qsub AS (SELECT vec_id, pcell, s,
                           e[s*$PqSubDim+1:s*$PqSubDim+$PqSubDim] AS se
                    FROM qresid, range(0, $PqM) t(s)),
           lut AS (SELECT q.vec_id AS lq, q.pcell AS lcell, q.s AS ls,
                          rcb.cell AS lcode,
                          floor((list_dot_product(q.se, q.se)
                            - 2 * list_dot_product(q.se, rcb.centroid)
                            + list_dot_product(rcb.centroid, rcb.centroid))
                            * 1e6 + 1e-3)::BIGINT AS d2i
                   FROM qsub q JOIN rcb ON rcb.s = q.s),
           cand AS (SELECT p.vec_id AS query_id, p.cell, a.vec_id AS neighbor_id
                    FROM probes p JOIN assign a ON a.cell = p.cell
                    WHERE a.vec_id <> p.vec_id),
           adc AS (SELECT c.query_id, c.neighbor_id,
                          sum(l.d2i)::BIGINT AS adc_d2_micro
                   FROM cand c
                   JOIN renc e2 ON e2.vec_id = c.neighbor_id
                   JOIN lut l ON l.lq = c.query_id AND l.lcell = c.cell
                             AND l.ls = e2.s AND l.lcode = e2.code
                   GROUP BY c.query_id, c.neighbor_id)
      SELECT query_id, neighbor_id, rank, adc_d2_micro
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY adc_d2_micro, neighbor_id) AS rank
            FROM adc)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => ivfPqResidualTopk(spark, dir, nprobe = 2))

  /** The residual IVF-PQ composition behind [[topkIvfPqResidual]] with
    * the nprobe knob exposed for the recall spec.
    */
  private[queries] def ivfPqResidualTopk(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val v = Q.materialize(vecs(spark, dir))
    val cent = Q.materialize(centroidsFrom(v))
    // Assignment CARRIES label+e through the map-only ranking (round 14,
    // guide §2.4): the old shape joined the bare (vec_id, cell)
    // assignment back against v on vec_id — an |N|-row shuffle join
    // whose only purpose was to reattach columns cellRanks carries for
    // free. resid is now a broadcast-join projection of the checkpointed
    // scan: zero data-scale exchanges before the PQ explosion.
    val assignE = cellRanks(v, cent, 1, carry = Seq("label", "e"))
    val resid = assignE
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("label"), residCol.as("e"))
    val rsub = pqSub(resid)
    val rcb = Q.materialize(pqCodebook(rsub))
    // Codes as ONE array row per vector — argmin per subspace folded into
    // a single vec_id-keyed aggregation (4 min-of-struct columns), so the
    // ADC attaches all M codes with one join instead of M rows per
    // neighbor (round 14, guide §2.3 "shuffle keys and metadata"):
    // exactly pqEncode's argmin per (vec_id, s), same rounding, same
    // (rd, cell) tie-break, packed positionally (codes[s] = subspace s).
    val scored = pqScored(rsub, rcb)
    val minCols = (0 until PqM).map(s =>
      min(when(col("s") === s,
        struct(round(col("d2_raw") + lit(1e-9), 6).as("rd"),
          col("cell"), col("d2_raw")))).as(s"m$s"))
    val codesArr = scored.groupBy(col("vec_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("vec_id").as("neighbor_id"),
        array((0 until PqM).map(s => col(s"m$s.cell")): _*).as("codes"))
    // ONE cellRanks pass serves both the probe list and the per-probed-
    // cell query residuals (the old shape ranked once for probes, then
    // re-joined q -> probes -> cent to rebuild what the ranking already
    // had in hand).
    val q = v.filter(col("vec_id") < 20)
    val qranked = cellRanks(q, cent, nprobe, carry = Seq("e"))
    val probes = qranked.select(col("vec_id").as("query_id"), col("cell"))
    val qresid = qranked
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell").as("pcell"), residCol.as("e"))
    val qsub = pqSubCarry(qresid, "pcell")
    val d2 = dot(col("se"), col("se")) -
      lit(2) * dot(col("se"), col("centroid")) +
      dot(col("centroid"), col("centroid"))
    val lut = qsub.join(broadcast(rcb), "s")
      .withColumn("d2_raw", d2)
      .select(col("vec_id").as("lq"), col("pcell").as("lcell"),
        col("s").as("ls"), col("cell").as("lcode"),
        floor(col("d2_raw") * 1e6 + 1e-3).cast("long").as("d2i"))
    val rcodes = codesArr.select(col("neighbor_id"),
      posexplode(col("codes")).as(Seq("s", "code")))
    val cand = assignE.select(col("vec_id"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id").as("neighbor_id"))
    val adc = cand.join(rcodes, "neighbor_id")
      .join(broadcast(lut), col("query_id") === col("lq") &&
        col("cell") === col("lcell") &&
        col("s") === col("ls") && col("code") === col("lcode"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2i")).cast("long").as("adc_d2_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2_micro"), col("neighbor_id"))
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_d2_micro"))
  }

  /** Total squared quantization error of a PQ encoding (the min d2 per
    * (vector, subspace), summed) as a 1-row frame — the number residual
    * encoding exists to shrink; IvfPqResidualSpec compares raw vs
    * residual (the spec does the collect — main stays collect-free).
    */
  private[queries] def pqQuantError(spark: SparkSession, dir: String,
      residual: Boolean): DataFrame = {
    val v = Q.materialize(vecs(spark, dir))
    val base =
      if (!residual) v
      else {
        val cent = Q.materialize(centroidsFrom(v))
        v.join(assignAgainst(v, cent).select(col("vec_id"), col("cell")),
            "vec_id")
          .join(broadcast(cent), "cell")
          .select(col("vec_id"), col("label"), residCol.as("e"))
      }
    val sub = pqSub(base)
    val cb = pqCodebook(sub)
    pqEncode(pqScored(sub, cb)).agg(sum(col("d2_raw")).as("err"))
  }

  /** Vector-count threshold for the all-vectors kNN join's cell split:
    * at or below it the cells are exactly the 10 label-seeded centroids
    * (every correctness SF — bit-identical to the round-7 operator);
    * above it each label cell splits by the SIGN BITS of the first m raw
    * dimensions (axis-hyperplane sub-quantization), m = bitlength((n−1)
    * div threshold), so expected cell size stays ~128 and the join cost
    * N·nprobe·cellsize stays LINEAR in N. Added after the round-8 sf1
    * probe measured the fixed-10-cell variant at 86× for 10× data (cell
    * size N/10 ⇒ O(N²/5) candidate pairs). m is integer-exact in both
    * engines (integer division before the log). Membership and probing
    * stay nearest-CENTROID, as before — only the centroid TABLE changes
    * (seeded by label × sign bits instead of label alone); the probe
    * ranking against all k centroids is the flat-IVF coarse cost
    * N·k = N²/threshold — hierarchical coarse quantizers take over past
    * ~10M vectors, stated honestly.
    */
  private[queries] val KnnSubCellThreshold = 1280L

  /** DuckDB mirror of [[knnCentroids]] — expects the `n` ([[VecsSql]])
    * CTE; ends in `cent(cell, centroid)` exactly like [[CentroidsSql]].
    */
  private val KnnCentroidsSql = s"""
           nv AS (SELECT count(*) AS nv FROM embeddings),
           mm AS (SELECT CASE WHEN nv <= $KnnSubCellThreshold THEN 0
                              ELSE CAST(floor(log2(((nv - 1) // $KnnSubCellThreshold)::DOUBLE)) AS INT) + 1
                         END AS m FROM nv),
           vc AS (SELECT vec_id, e,
                         label::BIGINT * (1::BIGINT << m) +
                         CASE WHEN m = 0 THEN 0
                              ELSE list_sum(list_transform(range(0, m),
                                     i -> CASE WHEN e[(i+1)::INT] >= 0 THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END))::BIGINT
                         END AS knncell
                  FROM n, mm),
           cent AS (SELECT knncell AS cell, list(c ORDER BY pos) AS centroid
                    FROM (SELECT knncell, i AS pos,
                                 round(avg(e[(i+1)::INT]) + 1e-9, 6) AS c
                          FROM (SELECT knncell, e, unnest(range(0, len(e))) AS i
                                FROM vc)
                          GROUP BY knncell, pos)
                    GROUP BY knncell)"""

  val knnGraph = Q(
    "sim_knn_graph",
    "k-NN GRAPH construction — the ALL-VECTORS kNN join (top-3 " +
      "neighbors for EVERY vector, not a 20-query batch): the input " +
      "artifact under kNN-graph clustering, label propagation over " +
      "embeddings, HNSW seeding and UMAP. The N×N problem is blocked " +
      "by the IVF structure: every vector probes its nprobe=2 nearest " +
      "cells and scores exactly against THOSE cells' members only — " +
      "cost N × (nprobe × cell size), sub-quadratic at any scale and " +
      "entirely equi joins (probes ⋈ home-cell assignment on the cell " +
      "key; a neighbor has ONE home cell, so no distinct is needed). " +
      "Recall is the IVF contract, measured honestly on this " +
      "ANN-hostile isotropic corpus at 0.42 vs exhaustive truth " +
      "(KnnGraphSpec commits the floor, monotonicity in nprobe, and " +
      "that planted ε-neighbors are found); production corpora with " +
      "real cluster structure sit far higher. Per-vector top-3 by the " +
      "rounded distance with id tie-break over a cell-bounded window.",
    Some(s"""
      WITH n AS ($VecsSql),$KnnCentroidsSql,$AssignSql,
           probes AS (SELECT vec_id, cell
                      FROM (SELECT vec_id, cell, row_number() OVER (
                              PARTITION BY vec_id
                              ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                            FROM cscored)
                      WHERE rk <= 2),
           cand AS (SELECT p.vec_id AS qid, a.vec_id AS nid
                    FROM probes p JOIN assign a ON a.cell = p.cell
                    WHERE a.vec_id <> p.vec_id),
           scored AS (
             SELECT c.qid, c.nid,
                    list_dot_product(q.e, q.e)
                      - 2 * list_dot_product(q.e, m.e)
                      + list_dot_product(m.e, m.e) AS d2_raw
             FROM cand c
             JOIN n q ON q.vec_id = c.qid
             JOIN n m ON m.vec_id = c.nid)
      SELECT qid, nid, rank, round(d2_raw + 1e-9, 6) AS d2r6
      FROM (SELECT *, row_number() OVER (
              PARTITION BY qid
              ORDER BY round(d2_raw + 1e-9, 6), nid) AS rank
            FROM scored)
      WHERE rank <= 3""".stripMargin),
    (spark, dir) => knnGraphTopk(spark, dir, nprobe = 2))

  /** (cell, centroid) table for [[knnGraphTopk]] under the scale-adaptive
    * split (see [[KnnSubCellThreshold]], declared above [[knnGraph]]):
    * per-cell means over knncell = label·2^m + signbits(e[0..m)).
    */
  private[graft] def knnCentroids(v: DataFrame, nv: Long): DataFrame = {
    // The vector count arrives as a Scala long (observed during v's
    // materialization — Q.materializeCounted) and the split width folds
    // in as a LITERAL via knnSplitBits' engine-exact expression (round
    // 14): the old shape crossJoin(broadcast(v.agg(count)))-ed the count
    // into the plan, which made every centroid materialization job scan
    // the cached v TWICE (once for the broadcast count, once for the
    // means) and recompute m per row. Key math unchanged — same
    // expression text, m from the identical Spark projection.
    val m = knnSplitBits(v.sparkSession, nv)
    val cellExpr =
      if (m == 0) "cast(label as bigint)"
      else s"cast(label as bigint) * shiftleft(1L, $m) + " +
        s"aggregate(sequence(0, ${m - 1}), 0L, " +
        "(acc, i) -> acc + if(element_at(e, i + 1) >= 0D, shiftleft(1L, i), 0L))"
    centroidsOver(v.withColumn("knncell", expr(cellExpr)), "knncell")
  }

  /** The kNN-join composition behind [[knnGraph]] with the nprobe knob
    * exposed for the recall spec.
    */
  private[queries] def knnGraphTopk(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    // VECTORS TRAVEL WITH THE PROBES (round 9): the round-8 shape joined
    // bare (qid, nid) candidates back against the vector table TWICE to
    // score — at the g10 probe (31M candidates × 512-byte vectors) those
    // two joins exchanged ~30 GB and were the measured super-linear term
    // of the whole query. Now ONE cellRanks pass (map-side, see its
    // scaladoc) carries each vector and its self-dot: rank 1 IS the home
    // cell (the assign side), ranks ≤ nprobe are the probe side, and
    // scoring happens AT the cell equi-join — the only vector bytes that
    // ever shuffle are the N·(nprobe+1) probe/assign rows (~300 MB at
    // g10, vs 30 GB), and the top-3 window exchanges 24-byte rows.
    // Arithmetic unchanged: (qq − 2·q·n) + nn on the same vectors, same
    // rounding, same (d2r6, nid) tie-break — oracle untouched.
    val (v, nv) = Q.materializeCounted(vecs(spark, dir)
      .withColumn("ee", dot(col("e"), col("e"))))
    val cent = Q.materialize(knnCentroids(v, nv))
    val ranks = Q.materialize(
      cellRanks(v, cent, nprobe, carry = Seq("e", "ee")))
    val assign = ranks.filter(col("rk") === 1)
      .select(col("vec_id").as("nid"), col("cell"),
        col("e").as("ne"), col("ee").as("nn"))
    val probes = ranks
      .select(col("vec_id").as("qid"), col("cell"),
        col("e").as("qe"), col("ee").as("qq"))
    val scored = probes.join(assign, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qq") - lit(2) * dot(col("qe"), col("ne"))
          + col("nn")).as("d2_raw"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("d2_raw") + lit(1e-9), 6), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("d2_raw") + lit(1e-9), 6).as("d2r6"))
  }

  /** DuckDB mirror of the multi-probe sign-bit LSH structure: computed
    * cell keys (no centroid table, no ranking), Hamming-1 probe set.
    */
  private val MplshSql = """
           nv AS (SELECT count(*) AS nv FROM embeddings),
           mm AS (SELECT greatest(1, CAST(floor(log2(greatest((nv - 1) // 128, 1)::DOUBLE)) AS INT) + 1) AS m FROM nv),
           keyed AS (SELECT vec_id, e,
                            list_sum(list_transform(range(0, m),
                              i -> CASE WHEN e[(i+1)::INT] >= 0 THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END))::BIGINT AS cellk
                     FROM n, mm),
           probes AS (SELECT qid, CASE WHEN i = 0 THEN cellk
                                       ELSE xor(cellk, 1::BIGINT << (i - 1)::INT) END AS cell
                      FROM (SELECT vec_id AS qid, cellk, unnest(range(0, m + 1)) AS i
                            FROM keyed, mm)),
           assign AS (SELECT vec_id AS nid, cellk AS cell FROM keyed),
           cand AS (SELECT p.qid, a.nid
                    FROM probes p JOIN assign a ON a.cell = p.cell
                    WHERE a.nid <> p.qid),
           scored AS (SELECT c.qid, c.nid,
                             list_dot_product(q.e, q.e)
                               - 2 * list_dot_product(q.e, m2.e)
                               + list_dot_product(m2.e, m2.e) AS d2_raw
                      FROM cand c
                      JOIN n q ON q.vec_id = c.qid
                      JOIN n m2 ON m2.vec_id = c.nid)"""

  val knnGraphMplsh = Q(
    "sim_knn_graph_mplsh",
    "ALL-VECTORS kNN GRAPH, MULTI-PROBE LSH — the LINEAR-scale path the " +
      "round-8 g10 probe demanded: sim_knn_graph's IVF blocking ranks " +
      "every vector against ALL k cell centroids, an N*k = N^2/128 " +
      "coarse term its own scaladoc flags as the flat-IVF crossover — " +
      "measured super-linear (~60x/decade) at 2M vectors. This variant " +
      "has NO centroid table and NO ranking anywhere before the final " +
      "top-k: the cell key is COMPUTED per vector (sign bits of the " +
      "first m dimensions, m = bitlength((N-1) div 128) so expected " +
      "cell size stays ~128 at any N — axis-hyperplane LSH), and each " +
      "query probes its own cell plus the m Hamming-1 neighbors (the " +
      "standard multi-probe trick: one flipped sign bit = the adjacent " +
      "half-space, where near-boundary neighbors live). Cost is " +
      "N x (m+1) x cellsize ~ N log N of exact 64-dim distances and " +
      "TWO equi joins — no window wider than a query's ~(m+1)*128 " +
      "candidates, no N^2 term at all. A neighbor has ONE home cell, " +
      "so candidate pairs are unique without dedup. Recall is the LSH " +
      "contract (committed honestly in KnnGraphSpec on the ANN-hostile " +
      "isotropic corpus; sign-bit cells on clustered production data " +
      "sit far higher); a pathological corpus concentrated in one " +
      "orthant would hot-spot a cell — the same occurrence-cap contract " +
      "the LSH-band dedup documents applies. The oracle replays the " +
      "whole structure (key bits, Hamming-1 probes, exact re-score, " +
      "rounded top-3) in DuckDB.",
    Some(s"""
      WITH n AS ($VecsSql),$MplshSql
      SELECT qid, nid, rank, round(d2_raw + 1e-9, 6) AS d2r6
      FROM (SELECT *, row_number() OVER (
              PARTITION BY qid
              ORDER BY round(d2_raw + 1e-9, 6), nid) AS rank
            FROM scored)
      WHERE rank <= 3""".stripMargin),
    (spark, dir) => knnGraphMplshTopk(spark, dir))

  /** The multi-probe-LSH kNN join behind [[knnGraphMplsh]]: computed
    * sign-bit cells, Hamming-1 probe fan-out, exact re-score, top-3.
    */
  private[queries] def knnGraphMplshTopk(spark: SparkSession,
      dir: String): DataFrame = {
    // Probe width m folds in as a LITERAL (round 14): the count is
    // observed during v's materialization and m comes from the identical
    // Spark expression via evalIntExpr — the old crossJoin(broadcast(
    // v.agg(count))) made the keyed job scan cached v twice and carry an
    // m column through the checkpoint. Same key math, narrower frame.
    val (v, nv) = Q.materializeCounted(vecs(spark, dir, fan = true))
    val m = evalIntExpr(spark,
      s"greatest(1, cast(floor(log2(cast(greatest((${nv}L - 1) div 128L, " +
        "1L) as double))) as int) + 1)")
    val keyed = Q.materialize(v
      .withColumn("cellk", expr(
        s"aggregate(sequence(0, ${m - 1}), 0L, (acc, i) -> " +
          "acc + if(element_at(e, i + 1) >= 0D, shiftleft(1L, i), 0L))"))
      .select(col("vec_id"), col("e"), col("cellk")))
    val assign = keyed.select(col("vec_id").as("nid"), col("cellk").as("cell"))
    val probes = keyed
      .select(col("vec_id").as("qid"), col("cellk"),
        explode(sequence(lit(0), lit(m))).as("i"))
      .select(col("qid"),
        expr("if(i = 0, cellk, cellk ^ shiftleft(1L, i - 1))").as("cell"))
    val cand = probes.join(assign, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    val qv = keyed.select(col("vec_id").as("qid"), col("e").as("qe"))
    val nvv = keyed.select(col("vec_id").as("nid"), col("e").as("ne"))
    val scored = cand.join(qv, "qid").join(nvv, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("qe")) - lit(2) * dot(col("qe"), col("ne"))
          + dot(col("ne"), col("ne"))).as("d2_raw"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("d2_raw") + lit(1e-9), 6), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("d2_raw") + lit(1e-9), 6).as("d2r6"))
  }

  /** The adaptive split width `m` of [[knnCentroids]], computed ON SPARK
    * (a 1-row local projection of the identical expression), so the
    * driver-side group function `cell >> m` can never drift from the
    * distributed key math by a log2 ulp across engines or JDKs.
    */
  private def knnSplitBits(spark: SparkSession, nv: Long): Int =
    evalIntExpr(spark,
      s"if(${nv}L <= ${KnnSubCellThreshold}L, 0, " +
        s"cast(floor(log2(cast((${nv}L - 1) div ${KnnSubCellThreshold}L " +
        "as double))) as int) + 1)")

  /** Evaluate a constant integer Spark-SQL expression via a 1-row local
    * projection — the engine-exact way to share math (floor/log2 ulp
    * behavior) between a driver-side decision and the distributed key
    * expressions. MEMOIZED on the expression text (round 14): the math
    * is a pure function of its literal inputs, and the 1-row job it
    * replaces was a driver-planned action charged per query invocation.
    */
  private val intExprCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def evalIntExpr(spark: SparkSession, sql: String): Int =
    intExprCache.computeIfAbsent(sql,
      _ => spark.range(1).select(expr(sql).as("v")).head.getInt(0))

  /** Per-label (level-1) centroid table for the hierarchical quantizer:
    * `sup = label` — the adaptive [[knnCentroids]] key already nests
    * under it (`knncell >> m = label`), so the label means ARE the group
    * centroids of the two-level structure.
    */
  private def supCentroids(v: DataFrame): DataFrame =
    centroidsOver(v, "label")

  private val SupCentroidsSql = """
           supcent AS (
             SELECT label::BIGINT AS sup, list(c ORDER BY pos) AS centroid
             FROM (SELECT label, i AS pos,
                          round(avg(e[(i + 1)::INT]) + 1e-9, 6) AS c
                   FROM (SELECT label, e, unnest(range(0, len(e))) AS i
                         FROM n)
                   GROUP BY label, i)
             GROUP BY label)"""

  val hierAssign = Q(
    "sim_hier_assign",
    "HIERARCHICAL (two-level) quantizer assignment — the operator the " +
      "flat IVF scaladocs hand off to past ~10M vectors: rank the 10 " +
      "label (level-1) centroids, descend into the winning group, rank " +
      "only ITS adaptive sub-cells (knncell >> m = label — the " +
      "hierarchy is already in the key). Per-vector cost k1*d + " +
      "(k/k1)*d flops instead of the flat k*d, and k grows with N " +
      "(cell size pinned ~128), so this is the coarse-quantizer shape " +
      "that stays flat-per-vector at any corpus size. The whole " +
      "assignment is ONE map-only projection (CellTopK then " +
      "GroupCellTopK, no join/window/exchange), bit-exact against the " +
      "two-stage join+window SQL the oracle runs.",
    Some(s"""
      WITH n AS ($VecsSql),$KnnCentroidsSql,$SupCentroidsSql,
           sassign AS (
             SELECT vec_id, sup
             FROM (SELECT n.vec_id, s.sup, row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY round(list_dot_product(n.e, n.e)
                               - 2 * list_dot_product(n.e, s.centroid)
                               + list_dot_product(s.centroid, s.centroid)
                               + 1e-9, 6), s.sup) AS rk
                   FROM n, supcent s)
             WHERE rk = 1),
           cscored AS (
             SELECT n.vec_id, c.cell,
                    list_dot_product(n.e, n.e)
                      - 2 * list_dot_product(n.e, c.centroid)
                      + list_dot_product(c.centroid, c.centroid) AS d2_raw
             FROM n, cent c),
           hassign AS (
             SELECT vec_id, cell, d2_raw
             FROM (SELECT c.vec_id, c.cell, c.d2_raw, row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round(c.d2_raw + 1e-9, 6), c.cell) AS rk
                   FROM cscored c
                   JOIN sassign s ON s.vec_id = c.vec_id
                   WHERE c.cell // (1::BIGINT << (SELECT m FROM mm)) = s.sup)
             WHERE rk = 1)
      SELECT vec_id, cell // (1::BIGINT << (SELECT m FROM mm)) AS sup,
             cell, round(d2_raw + 1e-6, 2) AS dist2
      FROM hassign""".stripMargin),
    (spark, dir) => {
      val (v, nv) = Q.materializeCounted(vecs(spark, dir))
      val m = knnSplitBits(spark, nv)
      hierCellRanks(v, supCentroids(v), knnCentroids(v, nv),
        c => c >> m, sprobe = 1, p = 1)
        .select(col("vec_id"), expr(s"shiftright(cell, $m)").as("sup"),
          col("cell"), Det.r2e(col("d2_raw")).as("dist2"))
    })

  val knnGraphHier = Q(
    "sim_knn_graph_hier",
    "ALL-VECTORS kNN GRAPH with the HIERARCHICAL coarse quantizer — " +
      "sim_knn_graph's exact join shape (probes rk<=2 vs home cells " +
      "rk=1, vectors travel with the probes, cell equi-join, top-3 " +
      "window) with the flat N*k centroid ranking replaced by the " +
      "two-level descent (sprobe=2 level-1 groups, rank only their " +
      "sub-cells): the quantizer term drops from k*d to (k1 + " +
      "sprobe*k/k1)*d flops per vector — ~5x at the g10 probe's " +
      "k=2560 and widening with N — while staying ONE map-only " +
      "projection. Recall vs the flat ranking is the standard " +
      "multi-level trade (a near cell under an unprobed level-1 group " +
      "is missed; HierIvfSpec commits the measured delta on the " +
      "ANN-hostile isotropic corpus).",
    Some(s"""
      WITH n AS ($VecsSql),$KnnCentroidsSql,$SupCentroidsSql,
           sprobes AS (
             SELECT vec_id, sup
             FROM (SELECT n.vec_id, s.sup, row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY round(list_dot_product(n.e, n.e)
                               - 2 * list_dot_product(n.e, s.centroid)
                               + list_dot_product(s.centroid, s.centroid)
                               + 1e-9, 6), s.sup) AS rk
                   FROM n, supcent s)
             WHERE rk <= 2),
           cscored AS (
             SELECT n.vec_id, c.cell,
                    list_dot_product(n.e, n.e)
                      - 2 * list_dot_product(n.e, c.centroid)
                      + list_dot_product(c.centroid, c.centroid) AS d2_raw
             FROM n, cent c),
           hranked AS (
             SELECT vec_id, cell, row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
             FROM (SELECT c.vec_id, c.cell, c.d2_raw
                   FROM cscored c
                   JOIN sprobes s ON s.vec_id = c.vec_id
                   WHERE c.cell // (1::BIGINT << (SELECT m FROM mm)) = s.sup)),
           probes AS (SELECT vec_id, cell FROM hranked WHERE rk <= 2),
           assign AS (SELECT vec_id, cell FROM hranked WHERE rk = 1),
           cand AS (SELECT p.vec_id AS qid, a.vec_id AS nid
                    FROM probes p JOIN assign a ON a.cell = p.cell
                    WHERE a.vec_id <> p.vec_id),
           scored AS (
             SELECT c.qid, c.nid,
                    list_dot_product(q.e, q.e)
                      - 2 * list_dot_product(q.e, m2.e)
                      + list_dot_product(m2.e, m2.e) AS d2_raw
             FROM cand c
             JOIN n q ON q.vec_id = c.qid
             JOIN n m2 ON m2.vec_id = c.nid)
      SELECT qid, nid, rank, round(d2_raw + 1e-9, 6) AS d2r6
      FROM (SELECT *, row_number() OVER (
              PARTITION BY qid
              ORDER BY round(d2_raw + 1e-9, 6), nid) AS rank
            FROM scored)
      WHERE rank <= 3""".stripMargin),
    (spark, dir) => knnGraphHierTopk(spark, dir, sprobe = 2, nprobe = 2))

  /** The hierarchical kNN-join composition behind [[knnGraphHier]]:
    * [[knnGraphTopk]]'s exact tail (rank 1 = home cell / ranks ≤ nprobe
    * = probe set, vectors travel with the probes, one cell equi-join,
    * top-3 window) over [[hierCellRanks]] instead of [[cellRanks]].
    */
  private[queries] def knnGraphHierTopk(spark: SparkSession, dir: String,
      sprobe: Int, nprobe: Int): DataFrame = {
    val (v, nv) = Q.materializeCounted(vecs(spark, dir)
      .withColumn("ee", dot(col("e"), col("e"))))
    val m = knnSplitBits(spark, nv)
    val cent = Q.materialize(knnCentroids(v, nv))
    val ranks = Q.materialize(hierCellRanks(v, supCentroids(v), cent,
      c => c >> m, sprobe, nprobe, carry = Seq("e", "ee")))
    val assign = ranks.filter(col("rk") === 1)
      .select(col("vec_id").as("nid"), col("cell"),
        col("e").as("ne"), col("ee").as("nn"))
    val probes = ranks
      .select(col("vec_id").as("qid"), col("cell"),
        col("e").as("qe"), col("ee").as("qq"))
    val scored = probes.join(assign, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qq") - lit(2) * dot(col("qe"), col("ne"))
          + col("nn")).as("d2_raw"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("d2_raw") + lit(1e-9), 6), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("d2_raw") + lit(1e-9), 6).as("d2r6"))
  }

  val topkHierPruned = Q(
    "sim_topk_hier_pruned",
    "HIERARCHICAL DESCENT x PRUNED LAYOUT — the two round-10 serving " +
      "components composed into the production shape at k = tens of " +
      "thousands of cells: the corpus is written ONCE partitioned by its " +
      "hierarchical home cell (two-level assignment, sprobe=1 — the " +
      "index build is itself sublinear in k), a query batch picks probe " +
      "cells by the two-level descent (sprobe=2 level-1 groups, rank " +
      "only their sub-cells: (k1 + sprobe*k/k1)*d flops instead of " +
      "k*d), and candidate fetch is a partition-PRUNED file read of " +
      "only the descent's probed cells' directories — flops sublinear " +
      "in k from the quantizer, I/O sublinear in k from the layout, " +
      "batch*nprobe directory listings out of k, no corpus shuffle. " +
      "The oracle replays the whole structure (level-1 rank, " +
      "group-filtered sub-cell rank, home assignment, cosine top-5) in " +
      "DuckDB; HierPrunedSpec additionally pins row equality with the " +
      "shuffle-join form of the same descent on an m>=1 corpus (the " +
      "layout changes the I/O, never the answer) and that the pruned " +
      "listing is bounded by the DESCENT's probe set.",
    Some(s"""
      WITH n AS ($VecsSql),$KnnCentroidsSql,$SupCentroidsSql,
           sassign AS (
             SELECT vec_id, sup
             FROM (SELECT n.vec_id, s.sup, row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY round(list_dot_product(n.e, n.e)
                               - 2 * list_dot_product(n.e, s.centroid)
                               + list_dot_product(s.centroid, s.centroid)
                               + 1e-9, 6), s.sup) AS rk
                   FROM n, supcent s)
             WHERE rk = 1),
           cscored AS (
             SELECT n.vec_id, c.cell,
                    list_dot_product(n.e, n.e)
                      - 2 * list_dot_product(n.e, c.centroid)
                      + list_dot_product(c.centroid, c.centroid) AS d2_raw
             FROM n, cent c),
           hassign AS (
             SELECT vec_id, cell
             FROM (SELECT c.vec_id, c.cell, row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round(c.d2_raw + 1e-9, 6), c.cell) AS rk
                   FROM cscored c
                   JOIN sassign s ON s.vec_id = c.vec_id
                   WHERE c.cell // (1::BIGINT << (SELECT m FROM mm)) = s.sup)
             WHERE rk = 1),
           sprobes AS (
             SELECT vec_id, sup
             FROM (SELECT n.vec_id, s.sup, row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY round(list_dot_product(n.e, n.e)
                               - 2 * list_dot_product(n.e, s.centroid)
                               + list_dot_product(s.centroid, s.centroid)
                               + 1e-9, 6), s.sup) AS rk
                   FROM n, supcent s WHERE n.vec_id < 20)
             WHERE rk <= 2),
           probes AS (
             SELECT vec_id, cell
             FROM (SELECT c.vec_id, c.cell, row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round(c.d2_raw + 1e-9, 6), c.cell) AS rk
                   FROM cscored c
                   JOIN sprobes s ON s.vec_id = c.vec_id
                   WHERE c.cell // (1::BIGINT << (SELECT m FROM mm)) = s.sup)
             WHERE rk <= 2),
           scored AS (
             SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos_raw
             FROM probes p
             JOIN n q ON q.vec_id = p.vec_id
             JOIN (SELECT n.*, h.cell FROM n
                   JOIN hassign h ON h.vec_id = n.vec_id) c
               ON c.cell = p.cell AND c.vec_id <> p.vec_id)
      SELECT query_id, neighbor_id, rank,
             round(cos_raw + 1e-8, 4) AS cosine
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(cos_raw + 1e-9, 6) DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5""".stripMargin),
    (spark, dir) => hierPrunedTopk(spark, dir, batch = 20, nprobe = 2))

  val topkHierSnap = Q(
    "sim_topk_hier_snap",
    "THE SERVING INDEX AS A MAINTAINED TABLE — sim_topk_hier_pruned's " +
      "descent and scoring unchanged, but the index LIFECYCLE moves from " +
      "a process-local partitioned directory to a committed snapshot " +
      "table: the home-cell index rows publish transactionally " +
      "(Snapshots.publish, v1), get OPTIMIZE'd into a cell-range-" +
      "clustered layout (Snapshots.compact on cell, v2 — every file's " +
      "footer bounds a disjoint cell range), and serving resolves ONE " +
      "COMMITTED VERSION, fetching each probed cell as a footer-stats-" +
      "pruned point-range read (Snapshots.readRange) — batch*nprobe " +
      "pruned reads out of the whole layout, THROUGH the transaction " +
      "layer. What the table buys over the directory at 100 TB: rebuild " +
      "is one atomic commit (no reader ever lists a half-built index), " +
      "a pinned version serves an entire request immutably under any " +
      "concurrent rebuild, old versions remain time-travelable for " +
      "rollback, and layout maintenance is the ordinary OPTIMIZE every " +
      "corpus table already gets. Same oracle SQL verbatim as " +
      "sim_topk_hier_pruned (the lifecycle changes durability and I/O, " +
      "never the answer); HierSnapSpec pins row equality with the " +
      "directory form plus the version-pinning law.",
    topkHierPruned.oracle,
    (spark, dir) => hierSnapTopk(spark, dir, batch = 20, nprobe = 2))

  val knnClusters = Q(
    "sim_knn_clusters",
    "MUTUAL-kNN CLUSTERING — the standard graph-clustering recipe on " +
      "top of the kNN join: keep only RECIPROCATED edges (a↔b both in " +
      "each other's top-3 — the mutuality filter that kills hub/chain " +
      "artifacts one-directional kNN graphs suffer), then connected " +
      "components over the mutual graph via the SAME min-label " +
      "pointer-jumping iteration as dedup_components (extracted into " +
      "one shared solver — the convergence accounting cannot drift " +
      "between the text and vector faces). Every vector maps to its " +
      "cluster's min-id canonical; singletons are their own. At scale " +
      "this is the kNN join's cost plus component rounds over the " +
      "MUTUAL subgraph (reciprocity thins edges sharply, and MEASURED: " +
      "0.427 of directed edges survive at 2k vectors, 0.400 at 20k, " +
      "0.377 at 200k on the isotropic corpus — history/probe_mutual_r13.json — " +
      "so the per-round shuffle is ~0.4x the kNN graph, a ratio that " +
      "tightens, not loosens, with corpus size).",
    Some(s"""
      WITH RECURSIVE n AS ($VecsSql),$KnnCentroidsSql,$AssignSql,
           probes AS (SELECT vec_id, cell
                      FROM (SELECT vec_id, cell, row_number() OVER (
                              PARTITION BY vec_id
                              ORDER BY round(d2_raw + 1e-9, 6), cell) AS rk
                            FROM cscored)
                      WHERE rk <= 2),
           cand AS (SELECT p.vec_id AS qid, a.vec_id AS nid
                    FROM probes p JOIN assign a ON a.cell = p.cell
                    WHERE a.vec_id <> p.vec_id),
           scored AS (
             SELECT c.qid, c.nid,
                    list_dot_product(q.e, q.e)
                      - 2 * list_dot_product(q.e, m.e)
                      + list_dot_product(m.e, m.e) AS d2_raw
             FROM cand c
             JOIN n q ON q.vec_id = c.qid
             JOIN n m ON m.vec_id = c.nid),
           knn AS (SELECT qid, nid
                   FROM (SELECT *, row_number() OVER (
                           PARTITION BY qid
                           ORDER BY round(d2_raw + 1e-9, 6), nid) AS rank
                         FROM scored)
                   WHERE rank <= 3),
           mutual AS (SELECT a.qid AS s, a.nid AS d
                      FROM knn a JOIN knn b
                        ON b.qid = a.nid AND b.nid = a.qid
                      WHERE a.qid < a.nid),
           edges AS (SELECT s, d FROM mutual
                     UNION ALL SELECT d, s FROM mutual),
           reach(node, m) AS (
             SELECT vec_id, vec_id FROM n
             UNION
             SELECT e.s, r.m FROM edges e JOIN reach r ON r.node = e.d)
      SELECT node AS vec_id, min(m) AS cluster_id,
             (node <> min(m)) AS in_cluster
      FROM reach GROUP BY node""".stripMargin),
    (spark, dir) => {
      val e = Q.materialize(knnGraphTopk(spark, dir, nprobe = 2)
        .select(col("qid"), col("nid")))
      val mutual = e.join(
        e.select(col("nid").as("qid"), col("qid").as("nid")),
        Seq("qid", "nid"))
        .filter(col("qid") < col("nid"))
      // No symmetrization union (round 14): mutual is already qid < nid
      // and the solver canonicalizes with least/greatest + distinct, so
      // the reversed copies folded right back — the union just ran the
      // (unmaterialized) mutuality join twice inside the solver's first
      // materialization job.
      val labels = Dedup.minLabelComponents(spark, mutual)
        .withColumnRenamed("doc_id", "vec_id")
      vecs(spark, dir).select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster_id"))
        .withColumn("in_cluster", col("vec_id") =!= col("cluster_id"))
    })

  val all: Seq[Q] = Seq(topkBrute, topkIvf, topkIvfProbe2, kmeansAssignQ,
    kmeansIter2, pqEncodeQ, topkPqAdc, topkIvfPq, semanticDedup, modalCuration,
    nearDup, histogram, labelCentroid, dimStats, powerIteration, topkSq8,
    topkMrl, topkIvfPqResidual, knnGraph, knnGraphMplsh, knnClusters,
    hierAssign, knnGraphHier, topkIvfPruned, topkHierPruned, topkHierSnap)
}
