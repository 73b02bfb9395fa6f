package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the training-data-pipeline
  * core: exact (hash groupBy), MinHash+LSH (shingle→minhash→band→bucket
  * join), SimHash, and n-gram Jaccard verification. The embedding-cosine
  * near-dup lives in [[Similarity]] alongside the ANN ops.
  *
  * All hashing is the portable md5-lane family (`graft.functions.Md5Lanes`
  * natively; `('0x' || substr(md5(...), 1+8l, 8))::BIGINT` in SQL), so every
  * stage is oracle-checkable bit-for-bit in DuckDB. All set math (Jaccard,
  * signature agreement) is exact integer ratios — unrounded doubles are
  * IEEE-identical across engines.
  *
  * Scale shape: shingling explodes ~L shingles/doc but is immediately
  * reduced by the per-doc minhash aggregation (one row per doc again before
  * any join). Candidate pairs come only from LSH bucket joins — never an
  * all-pairs product — so the expensive exact-Jaccard verification runs on
  * O(candidates), the standard MinHash/LSH contract at 100 TB.
  */
/** The one LSH bucket-join scaffold every banded candidate generator uses
  * (MinHash bands, SimHash chunks, hyperplane sign-bands): collect bucket
  * members per (band, key), drop pathological buckets, expand in-bucket
  * pairs. Shared so the cap and the pair-ordering semantics cannot drift
  * between the three pipelines.
  */
private[graft] object Lsh {
  /** A bucket larger than this is a degenerate collision (a stop-shingle /
    * hot chunk dominating the corpus), not a dup cluster: it would
    * contribute O(cap²) low-precision pairs. Dropped identically on both
    * engines (the oracles mirror the HAVING).
    */
  val MaxBucket = 1000

  /** In-bucket ordered-pair expansion over the sorted `members` array. */
  val PairExpand: String =
    """flatten(transform(sequence(1, size(members) - 1), i ->
         transform(sequence(i + 1, size(members)), j ->
           struct(members[i-1] AS a, members[j-1] AS b))))"""

  /** `keyed` must have columns (band, key, m); returns one row per
    * in-bucket pair as a struct column `p` with fields a/b (each a copy of
    * the member column `m`). Callers project the pair fields and dedup
    * across bands.
    */
  def bucketPairs(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= MaxBucket)
      .select(explode(expr(PairExpand)).as("p"))
}

object Dedup {
  import Tables.t

  /** Production-width LSH parameterization (numHashes = bands × rowsPerBand):
    * each band key hashes an r-tuple of minhashes, so a pair is a candidate
    * iff ALL r rows of SOME band agree — the standard S-curve with
    * threshold ≈ (1/b)^(1/r) ≈ 0.71 at b=4/r=4. Round 2's b=4/r=1 (any
    * single agreeing minhash) admitted ~34% of J=0.1 pairs and made buckets
    * "all docs sharing one hot min-shingle"; r=4 band keys collapse that to
    * near-zero false-candidate rate while keeping the planted near-dup
    * regime (J ≥ 0.9) at per-pair miss probability (1−J⁴)⁴ ≲ 1.4%.
    */
  private val Bands = 4
  private val RowsPerBand = 4
  private val NumHashes = Bands * RowsPerBand
  private val MaxBucket = Lsh.MaxBucket

  /** Word tokens of `text` (space-separated corpus). */
  private def toks: Column = filter(split(col("text"), " "), x => x =!= "")

  /** Distinct 3-word shingles per doc: (doc_id, source, shingle) — the
    * exploded form of [[shingleArrayOfToks]] (single definition: the
    * stateless signatures and this explosion can't silently diverge). The
    * token array is materialized in its own projection first: inlining it
    * would re-evaluate the split+filter for every one of its three
    * references (measured ~1.5× on the sf0.1 shingle queries).
    */
  private[queries] def shingles(spark: SparkSession, dir: String,
      fan: Boolean = true): DataFrame = {
    // Fanned scan (round 13, guide §2.5): the 3-word shingle explosion
    // multiplies the corpus ~tokens× and everything downstream (16 md5
    // lanes per shingle, bucket aggregations) is compute-per-row heavy,
    // so scan parallelism must track the machine, not the input's
    // row-group count (A/B: the LSH family dropped 0.1–0.8 s/query at
    // sf0.1 — dedup_lsh_verified 2.09→1.29 s). `fan = false` keeps the
    // bare scan for dedup_prefix_join, whose multi-pass join pipeline
    // measured SLOWER under the fanned layout (+0.6 s, same sweep).
    val docs =
      if (fan) Tables.fanned(spark, dir, "documents")
      else t(spark, dir, "documents")
    docs
      .select(col("doc_id"), col("source"), toks.as("tk"))
      .select(col("doc_id"), col("source"),
        explode(shingleArrayOfToks(col("tk"))).as("shingle"))
  }

  /** DuckDB mirror of [[shingles]] as a CTE body. */
  private val ShinglesSql = """
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
    FROM (SELECT doc_id, source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)"""


  /** Lanes extracted per md5 digest (md5 is 128 bits = 4 × 32-bit lanes). */
  private val LanesPerDigest = 4
  private val NumSeeds = NumHashes / LanesPerDigest

  /** (seed, lane) pair backing minhash component `i` — component i is lane
    * i%4 of digest seed i/4, so 16 components cost 4 md5s per shingle.
    * private[graft]: the streaming projection uses the identical mapping.
    */
  private[graft] def seedLane(i: Int): (Int, Int) =
    (i / LanesPerDigest, i % LanesPerDigest)

  private[graft] def numSeeds: Int = NumSeeds

  /** MinHash signature per doc from a shingle frame (lets callers reuse a
    * checkpointed shingle set instead of recomputing the explosion). All 16
    * lanes come from ONE native [[graft.functions.Md5Lanes]] evaluation per
    * shingle (4 digest passes, no hex strings), materialized as an array
    * attribute in its own projection before the 16 per-lane minima — an
    * inlined expression would be re-evaluated for every referencing lane
    * (the same CollapseProject hazard as the token array in [[shingles]]).
    */
  private[queries] def signaturesFrom(sh: DataFrame): DataFrame = {
    val withLanes = sh.select(col("doc_id"),
      graft.functions.Md5Lanes(col("shingle"), 0, NumSeeds).as("lanes"))
    val aggs = (0 until NumHashes).map(i =>
      min(col("lanes").getItem(i)).as(s"m$i"))
    withLanes.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct 3-shingle array over a MATERIALIZED token-array column
    * (pass an attribute, not the split expression — `tk` is referenced
    * three times here, and Catalyst only leaves multiply-referenced
    * expressions unduplicated when they are attributes).
    */
  private[graft] def shingleArrayOfToks(tk: Column): Column =
    when(size(tk) >= 3,
      array_distinct(transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", slice(tk, i, lit(3))))))
      .otherwise(array().cast("array<string>"))

  /** Word tokens of a text column. */
  private[graft] def toksOf(text: Column): Column =
    filter(split(text, " "), x => x =!= "")

  private[graft] val numHashes: Int = NumHashes
  private[graft] val bands: Int = Bands
  private[graft] val rowsPerBand: Int = RowsPerBand

  /** Band key of band `b` over minhash columns m0..m15: md5 of the
    * comma-joined r-tuple `m(b·r) .. m(b·r+r−1)` — one string key per band,
    * identical math in [[bandKeySqlCase]]'s DuckDB mirror (BIGINT::VARCHAR
    * and Column.cast("string") print identically).
    */
  private[graft] def bandKey(b: Int, m: Int => Column): Column =
    md5(concat_ws(",",
      (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => m(i).cast("string")): _*))

  /** DuckDB `CASE band ... END` expression mirroring [[bandKey]]. */
  private def bandKeySqlCase: String = {
    val whens = (0 until Bands).map { b =>
      val tup = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"m$i::VARCHAR").mkString(" || ',' || ")
      s"WHEN $b THEN md5($tup)"
    }.mkString(" ")
    s"CASE b.band $whens END"
  }

  /** MinHash signature per doc. Formulation note, measured at sf0.1
    * (min-of-3): this explode→groupBy form benches 2× FASTER than the
    * "shuffle-free" per-row array fold
    * (`array_min(transform(shingleArrayOfToks(tk), hash))`, 1.9s vs 3.9s
    * for dedup_minhash_pairs) — the array form allocates four hashed
    * arrays per row, while the exchange it saves is negligible anyway:
    * partial min collapses each doc to ONE pre-shuffle row (all of a
    * doc's shingles are born in its partition). The array fold remains
    * the right form where an aggregation is impossible — the streaming
    * projection (`Streams.lshDedupCandidates`).
    */
  private[queries] def signatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFrom(shingles(spark, dir))

  /** Lane `lane` of the seeded md5 digest in DuckDB, = lane `4·seed+lane`
    * of `graft.functions.Md5Lanes`.
    */
  private def duckLane(seed: Int, lane: Int, e: String): String =
    s"('0x' || substr(md5('$seed:' || $e), ${1 + 8 * lane}, 8))::BIGINT"

  private val SignaturesSql = {
    val mins = (0 until NumHashes).map { i =>
      val (s, lane) = seedLane(i)
      s"min(${duckLane(s, lane, "shingle")}) AS m$i"
    }.mkString(", ")
    s"SELECT doc_id, $mins FROM sh GROUP BY doc_id"
  }

  /** Multi-band LSH candidate pairs at production parameters (b=4 bands of
    * r=4 rows): a pair is a candidate iff ALL 4 minhashes of SOME band
    * agree — band keys are md5 over the r-tuple ([[bandKey]]), never a
    * single minhash, so buckets at scale are "docs sharing an entire
    * 4-minhash slice", not "docs sharing one hot min-shingle". From ONE
    * signature pass: each doc fans out to b (band, key) rows, buckets are
    * collected, capped at [[MaxBucket]] (one pathological collision can't go
    * quadratic), pairs expanded in-bucket, then deduped across bands
    * (LshRecallSpec measures recall against the exhaustive truth).
    */
  private[queries] def candidatePairsFrom(sig: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map(s => col(s"m$s"))
    val bandStructs = (0 until Bands).map(b =>
      struct(lit(b).as("band"), bandKey(b, i => col(s"m$i")).as("key")))
    val keyed = sig
      .select(struct(col("doc_id") +: sigCols: _*).as("m"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("m"))
    Lsh.bucketPairs(keyed)
      .select(
        (col("p.a.doc_id").as("doc_a") +: col("p.b.doc_id").as("doc_b") +:
          ((0 until NumHashes).map(s => col(s"p.a.m$s").as(s"a_m$s")) ++
            (0 until NumHashes).map(s => col(s"p.b.m$s").as(s"b_m$s")))): _*)
      .distinct()
  }

  private[queries] def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairsFrom(signatures(spark, dir))

  /** DuckDB mirror of [[candidatePairsFrom]]: per-band bucket join over the
    * union of the b bands (md5 r-tuple keys), bucket-capped, deduped.
    * Expects a `sig` CTE. Generated programmatically from the same
    * (Bands, RowsPerBand) so the two engines cannot drift.
    */
  private val CandSql = {
    val ms = (0 until NumHashes).map(i => s"m$i").mkString(", ")
    val aCols = (0 until NumHashes).map(i => s"a.m$i AS a_m$i").mkString(", ")
    val bCols = (0 until NumHashes).map(i => s"b.m$i AS b_m$i").mkString(", ")
    val bandVals = (0 until Bands).map(b => s"($b)").mkString(",")
    s"""
           bands AS (
             SELECT doc_id, $ms, b.band,
                    $bandKeySqlCase AS key
             FROM sig, (VALUES $bandVals) b(band)),
           ok AS (SELECT band, key FROM bands GROUP BY band, key
                  HAVING count(*) > 1 AND count(*) <= $MaxBucket),
           cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    $aCols,
                    $bCols
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id
             JOIN ok ON ok.band = a.band AND ok.key = a.key)"""
  }

  val exact = Q(
    "dedup_exact",
    "Exact dedup: hash-groupBy on the content fingerprint; each doc mapped " +
      "to the min-doc_id canonical of its md5 bucket. One shuffle on the " +
      "16-byte digest — never on the text itself (100 TB: shuffle keys stay " +
      "tiny).",
    Some("""
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      FROM documents""".stripMargin),
    (spark, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      t(spark, dir, "documents")
        .select(col("doc_id"),
          min(col("doc_id")).over(w).as("canonical_id"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    })

  val minhashSig = Q(
    "dedup_minhash_sig",
    s"MinHash signatures: distinct 3-word shingles → $NumHashes seeded " +
      "portable hashes → per-doc minima, plus the md5 fingerprint over the " +
      "full signature. Shingle explosion collapses back to one row per doc " +
      "in the same aggregation — no wide intermediate survives the stage.",
    Some {
      val ms = (0 until NumHashes).map(i => s"m$i").mkString(", ")
      val fp = (0 until NumHashes).map(i => s"m$i::VARCHAR")
        .mkString(" || ',' || ")
      s"""
      WITH sh AS ($ShinglesSql),
           sig AS ($SignaturesSql)
      SELECT doc_id, $ms,
             md5($fp) AS sig_fp
      FROM sig""".stripMargin
    },
    (spark, dir) =>
      signatures(spark, dir).withColumn("sig_fp",
        md5(concat_ws(",", (0 until NumHashes).map(s => col(s"m$s").cast("string")): _*))))

  val minhashPairs = Q(
    "dedup_minhash_pairs",
    s"MinHash LSH candidate pairs at production width: b=$Bands bands of " +
      s"r=$RowsPerBand rows — band keys are md5 over the r-tuple of " +
      "minhashes, so a pair is a candidate iff an ENTIRE band slice " +
      "agrees. Each band join is equi on its bucket key — hash joins, NOT " +
      "an all-pairs product. Jaccard is estimated as the fraction of " +
      s"agreeing signature components out of $NumHashes.",
    Some {
      val matches = (0 until NumHashes)
        .map(i => s"(a_m$i = b_m$i)::INT").mkString(" + ")
      s"""
      WITH sh AS ($ShinglesSql),
           sig AS ($SignaturesSql),$CandSql
      SELECT doc_a, doc_b,
             ($matches)::BIGINT AS n_match,
             ($matches) / ${NumHashes}.0::DOUBLE
               AS est_jaccard
      FROM cand""".stripMargin
    },
    (spark, dir) => {
      val nMatch = (0 until NumHashes)
        .map(s => when(col(s"a_m$s") === col(s"b_m$s"), 1).otherwise(0))
        .reduce[org.apache.spark.sql.Column](_ + _)
      candidatePairs(spark, dir)
        .select(col("doc_a"), col("doc_b"),
          nMatch.cast("long").as("n_match"),
          (nMatch / lit(NumHashes.toDouble)).as("est_jaccard"))
    })

  val ngramJaccard = Q(
    "dedup_ngram_jaccard",
    "Exact n-gram Jaccard within source blocks: shingle equi-join counts " +
      "the intersection, per-doc shingle counts give the union, pairs kept " +
      "at J ≥ 0.5. Jaccard is an exact integer ratio — bitwise identical " +
      "across engines, no rounding. Shingles occurring in more than " +
      "MaxBucket docs are dropped from the whole pipeline (both the join " +
      "and the union sizes, mirrored in the oracle) — a stop-shingle " +
      "shared by k docs would contribute k² join rows; with the cap, " +
      "Jaccard is computed over the non-ubiquitous shingle universe (no " +
      "effect at test scale, where max doc-frequency is 17). NOTE: " +
      "metadata blocking caps recall — on this data it finds 1 pair where " +
      "content-based LSH blocking (dedup_lsh_verified) finds 23, because " +
      "planted near-dups span sources. Kept as the bounded-block baseline.",
    Some(s"""
      WITH sh0 AS ($ShinglesSql),
           hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                   HAVING count(*) > $MaxBucket),
           sh AS (SELECT * FROM sh0
                  WHERE shingle NOT IN (SELECT shingle FROM hot)),
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           common AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
             FROM sh a JOIN sh b
               ON a.shingle = b.shingle AND a.source = b.source
                  AND a.doc_id < b.doc_id
             GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, n_common,
             n_common / (sa.n + sb.n - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n + sb.n - n_common) >= 0.5""".stripMargin),
    (spark, dir) => {
      // Materialized once (posture via Q.materialize): turns 4 evaluations
      // of the scan+explode subtree (frequency filter, sizes, both join
      // sides) into one.
      val sh0 = Q.materialize(shingles(spark, dir))
      val hot = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxBucket).select(col("shingle"))
      val sh = sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = sh.alias("a")
      val b = sh.alias("b")
      val common = a.join(b,
        col("a.shingle") === col("b.shingle") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val jac = col("n_common") / (col("sa.n") + col("sb.n") - col("n_common"))
      common
        .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_common"), jac.as("jaccard"))
    })

  /** 64-bit SimHash per doc as two unsigned 32-bit halves (simhash_lo =
    * bits 0–31 from lane 0 of the seed-99 digest, simhash_hi = bits 32–63
    * from lane 1 — ONE native Md5Lanes digest per token occurrence), kept
    * in exact BIGINT range on both engines. Same single-aggregation shape
    * as the round-1 16-bit version: 64 conditional ±1 sums in ONE groupBy
    * (no bit-explode, one shuffle), sign bits packed.
    */
  private[queries] def simhash64(spark: SparkSession, dir: String): DataFrame = {
    val words = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("word"))
      .select(col("doc_id"),
        graft.functions.Md5Lanes(col("word"), 99, 1).as("wl"))
      .select(col("doc_id"), col("wl").getItem(0).as("h1"),
        col("wl").getItem(1).as("h2"))
    val sums = (0 until 64).map { b =>
      val src = if (b < 32) col("h1") else col("h2")
      sum(when(shiftright(src, b % 32).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    def pack(bits: Range): Column = bits
      .map(b => when(col(s"s$b") > 0, lit(1L << (b % 32))).otherwise(lit(0L)))
      .reduce(_ + _)
    words.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        pack(0 until 32).as("simhash_lo"), pack(32 until 64).as("simhash_hi"))
  }

  /** DuckDB mirror of [[simhash64]] as CTEs ending in `sig64`. */
  private[queries] val Simhash64Sql = {
    val sums = (0 until 64).map { b =>
      val h = if (b < 32) duckLane(99, 0, "word") else duckLane(99, 1, "word")
      s"sum(CASE WHEN ($h >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n               ")
    def pack(bits: Range) = bits
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << (b % 32)} ELSE 0 END")
      .mkString(" + ")
    s"""w AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                 FROM documents),
           v AS (SELECT doc_id,
               $sums
             FROM w GROUP BY doc_id),
           sig64 AS (SELECT doc_id, (${pack(0 until 32)})::BIGINT AS simhash_lo,
                            (${pack(32 until 64)})::BIGINT AS simhash_hi
                     FROM v)"""
  }

  val simhash = Q(
    "dedup_simhash",
    "64-bit SimHash fingerprints (two exact unsigned-32-bit BIGINT halves) " +
      "— widened from round 1's 16-bit demo with the identical " +
      "single-aggregation shape: per-token seeded hashes, 64 conditional " +
      "±1 sums in one groupBy, sign bits packed. 64 bits is the " +
      "production width: Hamming distance over it separates near-dups " +
      "from noise (see dedup_simhash_hamming).",
    Some(s"""
      WITH $Simhash64Sql
      SELECT doc_id, simhash_lo, simhash_hi FROM sig64""".stripMargin),
    (spark, dir) => simhash64(spark, dir))

  val simhashHamming = Q(
    "dedup_simhash_hamming",
    "SimHash near-dup pairs at Hamming distance ≤ 3, found WITHOUT an " +
      "all-pairs product via the 4-chunk pigeonhole (Manku et al., WWW'07): " +
      "any pair within Hamming 3 of each other must agree exactly on at " +
      "least one of the four 16-bit chunks, so candidates come from " +
      "bucket-joins on (chunk_index, chunk_value) — equi joins, capped, " +
      "deduped — and only candidates pay the exact popcount(xor) check. " +
      "Lossless vs the N² formulation by construction " +
      "(SimhashPigeonholeSpec asserts equality to the exhaustive result).",
    Some(s"""
      WITH $Simhash64Sql,
           chunks AS (
             SELECT doc_id, simhash_lo, simhash_hi, c.chunk,
                    CASE c.chunk WHEN 0 THEN simhash_lo & 65535
                                 WHEN 1 THEN simhash_lo >> 16
                                 WHEN 2 THEN simhash_hi & 65535
                                 ELSE simhash_hi >> 16 END AS key
             FROM sig64, (VALUES (0),(1),(2),(3)) c(chunk)),
           ok AS (SELECT chunk, key FROM chunks GROUP BY chunk, key
                  HAVING count(*) > 1 AND count(*) <= $MaxBucket),
           cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash_lo AS a_lo, a.simhash_hi AS a_hi,
                    b.simhash_lo AS b_lo, b.simhash_hi AS b_hi
             FROM chunks a
             JOIN chunks b ON a.chunk = b.chunk AND a.key = b.key
                          AND a.doc_id < b.doc_id
             JOIN ok ON ok.chunk = a.chunk AND ok.key = a.key)
      SELECT doc_a, doc_b,
             (bit_count(xor(a_lo, b_lo)) + bit_count(xor(a_hi, b_hi)))::BIGINT
               AS hamming
      FROM cand
      WHERE bit_count(xor(a_lo, b_lo)) + bit_count(xor(a_hi, b_hi)) <= 3""".stripMargin),
    (spark, dir) => {
      val chunkStructs = Seq(
        struct(lit(0).as("band"),
          col("simhash_lo").bitwiseAND(lit(65535L)).as("key")),
        struct(lit(1).as("band"), shiftright(col("simhash_lo"), 16).as("key")),
        struct(lit(2).as("band"),
          col("simhash_hi").bitwiseAND(lit(65535L)).as("key")),
        struct(lit(3).as("band"), shiftright(col("simhash_hi"), 16).as("key")))
      val hamming =
        bit_count(col("a_lo").bitwiseXOR(col("b_lo"))) +
          bit_count(col("a_hi").bitwiseXOR(col("b_hi")))
      val keyed = simhash64(spark, dir)
        .select(
          struct(col("doc_id"), col("simhash_lo"), col("simhash_hi")).as("m"),
          explode(array(chunkStructs: _*)).as("ck"))
        .select(col("ck.band").as("band"), col("ck.key").as("key"), col("m"))
      Lsh.bucketPairs(keyed)
        .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
          col("p.a.simhash_lo").as("a_lo"), col("p.a.simhash_hi").as("a_hi"),
          col("p.b.simhash_lo").as("b_lo"), col("p.b.simhash_hi").as("b_hi"))
        .distinct()
        .filter(hamming <= 3)
        .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
    })

  /** CTE chain ending in `verified(doc_a, doc_b, n_common, jaccard)` — the
    * LSH → exact-verify pipeline's product, shared by the verified-pairs
    * query and the component clustering built on it.
    */
  private val VerifiedCtes = s"""sh AS ($ShinglesSql),
           sig AS ($SignaturesSql),$CandSql,
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           common AS (
             SELECT c.doc_a, c.doc_b, count(*) AS n_common
             FROM cand c
             JOIN sh a ON a.doc_id = c.doc_a
             JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
             GROUP BY c.doc_a, c.doc_b),
           verified AS (
             SELECT doc_a, doc_b, n_common,
                    n_common / (sa.n + sb.n - n_common) AS jaccard
             FROM common
             JOIN sizes sa ON sa.doc_id = doc_a
             JOIN sizes sb ON sb.doc_id = doc_b
             WHERE n_common / (sa.n + sb.n - n_common) >= 0.5)"""

  /** The LSH → exact-verify pipeline as a frame (doc_a, doc_b, n_common,
    * jaccard at J ≥ 0.5). One scan of documents total: the shingle
    * explosion is materialized once and reused by the signature subtree
    * (via candidatePairsFrom), the per-doc sizes, and both sides of the
    * verification join — round 1's plan evaluated it ~4× (5 scans).
    */
  private[queries] def verifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Q.materialize(shingles(spark, dir))
    val cand = candidatePairsFrom(signaturesFrom(sh))
      .select(col("doc_a"), col("doc_b"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.alias("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.alias("b"), col("doc_b") === col("b.doc_id") &&
        col("b.shingle") === col("a.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val jac = col("n_common") / (col("sa.n") + col("sb.n") - col("n_common"))
    common
      .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), jac.as("jaccard"))
  }

  val lshVerified = Q(
    "dedup_lsh_verified",
    "The full scale-path dedup pipeline in one plan: MinHash-LSH candidate " +
      "generation (md5 r-tuple band-bucket joins) → exact n-gram Jaccard " +
      "verification of ONLY the candidates (shingle join semi-restricted " +
      "to the candidate pair set) → keep J ≥ 0.5. At 100 TB the " +
      "verification cost is O(candidates), not O(pairs) — this query is " +
      "the production shape; dedup_ngram_jaccard's block-join is the " +
      "exhaustive baseline.",
    Some(s"""
      WITH $VerifiedCtes
      SELECT doc_a, doc_b, n_common, jaccard FROM verified""".stripMargin),
    (spark, dir) => verifiedPairs(spark, dir))

  val components = Q(
    "dedup_components",
    "Duplicate-cluster assignment — what a dedup pipeline actually ships: " +
      "connected components over the verified pair graph, each doc mapped " +
      "to the min-doc_id canonical of its component (the same canonical " +
      "convention as dedup_exact), singletons their own canonical. " +
      "Iterative min-label propagation over ONLY the dup subgraph (docs " +
      "appearing in a verified pair — singletons join back at the end, so " +
      "per-round shuffles move a few % of the corpus, not all of it): per " +
      "round, every node takes the min of its own and its neighbors' " +
      "labels (one equi join + one groupBy on doc_id, both " +
      "hash-partitioned — no product) plus a pointer-jumping shortcut " +
      "(label := label(label)) that halves distance-to-minimum per round, " +
      "so convergence is O(log diameter) even for chain-shaped clusters — " +
      "2-3 rounds on real near-dup components (stars/cliques around a " +
      "template). Convergence is checked with an aggregate (changed-row " +
      "count), never a collect. The DuckDB oracle computes the same " +
      "fixpoint with a recursive CTE.",
    Some(s"""
      WITH RECURSIVE $VerifiedCtes,
           edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
                     UNION ALL SELECT doc_b, doc_a FROM verified),
           reach(node, m) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b)
      SELECT node AS doc_id, min(m) AS canonical_id,
             (node <> min(m)) AS is_dup
      FROM reach GROUP BY node""".stripMargin),
    (spark, dir) => componentAssignment(spark, dir))

  /** The full cluster-assignment frame (doc_id, canonical_id, is_dup) —
    * [[components]]' body, shared with [[keepBest]] so both queries run
    * the identical iteration (single definition, no drift).
    */
  /** Generic min-label connected components over a symmetric (src, dst)
    * edge frame: returns (doc_id, label) for every node APPEARING IN AN
    * EDGE (callers join singletons back — the per-round shuffle stays
    * |subgraph|, not |corpus|). Extracted from the doc-dedup components
    * so the kNN-graph clustering runs the IDENTICAL iteration (single
    * definition: the star operations, convergence accounting and the
    * constraint-propagation workaround cannot drift between callers).
    *
    * Algorithm (round 8): ALTERNATING LARGE-STAR/SMALL-STAR (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond") — each
    * round rewires every node's larger neighbors (large-star) then its
    * smaller-or-equal neighbors plus itself (small-star) to its local
    * minimum; the edge set converges to per-component STARS centered at
    * the component minima in provably O(log² n) rounds (~log n
    * observed). This replaced the min-label-propagation + single
    * pointer-jump loop after the round-8 sf1 scaling probe CAUGHT it
    * failing: on the 20k-vector mutual-kNN graph the giant component
    * has diameter 154, and one hop + one jump per round spreads the
    * minimum only a constant number of steps when intermediate labels
    * are already chain minima (the doubling argument silently assumed
    * label chains, which adversarial id placement breaks) — 50 rounds
    * was not enough. The star alternation converges in 8 rounds on that
    * same graph (measured, labels == union-find), and the text-dedup
    * components (diameter ≤ 3) converge in ≤ 3.
    */
  private[queries] def minLabelComponents(
      spark: SparkSession, edges0: DataFrame): DataFrame = {
      // Constraint propagation is disabled for the iteration (restored in
      // the finally): the star steps union two projections of the SAME
      // checkpointed frame (the symmetrization), and a checkpointed
      // self-join output carries originConstraints referencing its
      // PRE-checkpoint attribute ids — feeding that into a union trips
      // Catalyst's constraint rewrite (NoSuchElementException on the
      // duplicated attribute ids). With propagation off every plan's
      // constraint set is empty, so rounds stay whole-stage-codegen
      // DataFrame ops with no per-round rebaseline. The optimizations
      // lost (IsNotNull inference on join keys) are no-ops here — every
      // column is a non-null id.
      val cpKey = "spark.sql.constraintPropagation.enabled"
      val cpPrev = spark.conf.get(cpKey)
      spark.conf.set(cpKey, "false")
      try {
        // Canonical undirected edge set (a < b, distinct, no self-loops).
        // The edge count is OBSERVED during the same materialization job
        // (round 14): an Observation's CollectMetrics accumulator fires
        // on the eager checkpoint action, so seeding the convergence
        // accounting costs zero extra jobs (was one count() on round 1).
        val obs0 = Observation()
        var e = Q.materializeLoop(edges0.toDF("src", "dst")
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
          .observe(obs0, count(lit(1)).as("n")))
        var eCount = obs0.get("n").asInstanceOf[Long]

        // One star step: every node u's selected neighbors re-point at
        // u's local minimum m = min(N(u) ∪ {u}). large keeps v > u (and
        // always re-emits through min(v,m)/max(v,m) canonical form);
        // small keeps v <= u PLUS the (u, m) edge itself — dropping it
        // disconnects leaves (2-node components would vanish).
        // `dedup` is false for the intermediate large-star output: the
        // small-star that consumes it min/groupBys per node anyway, so
        // duplicate edges change nothing — only the ROUND boundary needs
        // the canonical distinct form (the set-equality convergence
        // check). Saves one full edge-set shuffle per round.
        def star(ed: DataFrame, large: Boolean,
            dedup: Boolean): DataFrame = {
          // Symmetrize by explode, ONE ed evaluation (round 14): the
          // union-of-two-projections form planted ed twice, and for the
          // small star ed is the UNMATERIALIZED large-star output — its
          // post-shuffle tail ran twice per round (the two consumers'
          // exchanges differ, one has a partial aggregate below, so
          // exchange reuse did not cover them).
          val sym = ed.select(explode(array(
              struct(col("a").as("u"), col("b").as("v")),
              struct(col("b").as("u"), col("a").as("v")))).as("p"))
            .select(col("p.u").as("u"), col("p.v").as("v"))
          val mins = sym.groupBy(col("u"))
            .agg(least(min(col("v")), col("u")).as("m"))
          val sel =
            if (large) sym.join(mins, "u").filter(col("v") > col("u"))
              .select(col("v"), col("m"))
            else sym.join(mins, "u").filter(col("v") <= col("u"))
              .select(col("v"), col("m"))
              .union(mins.select(col("u").as("v"), col("m")))
          val canon = sel.select(least(col("v"), col("m")).as("a"),
              greatest(col("v"), col("m")).as("b"))
            .filter(col("a") =!= col("b"))
          if (dedup) canon.distinct() else canon
        }

        var converged = false
        var iters = 0
        while (!converged && iters < 50) {
          // Set equality in ZERO extra jobs (round 14; round 13 ran it as
          // one separate join job, round 12 as anti-join + 2 counts = 3):
          // both sides are canonical DISTINCT edge sets, so a left join
          // preserves exactly one row per `next` edge and tags it matched
          // iff it exists in `e` — next ⊆ e ⟺ matched == |next|, and with
          // |next| == |e| that is set equality. The join + counts ride
          // INSIDE the round's checkpoint job: the tag join keys (a, b)
          // match the small-star distinct's hash partitioning (no added
          // exchange on the `next` side), an Observation collects
          // n/matched during the materialization, and the tag column is
          // projected away so the checkpointed frame is bit-identical to
          // the bare star output. Saves one driver-planned job AND one
          // full read-back of `next` per round. (Round 14 also measured a
          // count-gated variant — skip the equality check when
          // |next| != |e| — and it LOST: the star iteration's edge count
          // plateaus rounds before the fixpoint, so the gate mostly
          // added a job.)
          val obs = Observation()
          val next = Q.materializeLoop(star(
              star(e, large = true, dedup = false),
              large = false, dedup = true)
            .join(e.select(col("a"), col("b"), lit(1).as("in_e")),
              Seq("a", "b"), "left")
            .observe(obs,
              count(lit(1)).as("n"), count(col("in_e")).as("matched"))
            .select(col("a"), col("b")))
          val m = obs.get
          val n = m("n").asInstanceOf[Long]
          val matched = m("matched").asInstanceOf[Long]
          converged = matched == n && n == eCount
          e = next
          eCount = n
          iters += 1
        }
        require(converged, s"components did not converge in $iters rounds")
        // At the fixpoint the edges are stars centered at component
        // minima: leaves read their center off their single edge,
        // centers label themselves (min() is belt-and-braces).
        e.select(explode(array(
            struct(col("b").as("doc_id"), col("a").as("label")),
            struct(col("a").as("doc_id"), col("a").as("label")))).as("p"))
          .select(col("p.doc_id").as("doc_id"), col("p.label").as("label"))
          .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
      } finally spark.conf.set(cpKey, cpPrev)
  }

  private[queries] def componentAssignment(
      spark: SparkSession, dir: String): DataFrame = {
      val pairs = Q.materialize(
        verifiedPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      // No symmetrization union (round 14): the solver's first step is
      // least/greatest + distinct, which folds reversed duplicates right
      // back — the union only doubled the canonicalization's input.
      val labels = minLabelComponents(spark, pairs)
      t(spark, dir, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("canonical_id"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  val editDistance = Q(
    "dedup_edit_distance",
    "Character-level verification of LSH candidates: Levenshtein distance " +
      "on the 80-char document prefixes of each MinHash candidate pair — " +
      "the classic DP is O(len²) per pair, so it only ever runs on the " +
      "candidate set, never all pairs. Integer output: exact on both " +
      "engines.",
    Some(s"""
      WITH sh AS ($ShinglesSql),
           sig AS ($SignaturesSql),$CandSql
      SELECT doc_a, doc_b,
             levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80))::BIGINT
               AS prefix_dist
      FROM cand
      JOIN documents da ON da.doc_id = doc_a
      JOIN documents db ON db.doc_id = doc_b""".stripMargin),
    (spark, dir) => {
      val cand = candidatePairs(spark, dir).select(col("doc_a"), col("doc_b"))
      val docs = t(spark, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 80).as("prefix"))
      // The PREFIX TABLE is data-sized — broadcasting it (as this once
      // did) dies first at 100 TB; the bounded side of these joins is the
      // candidate set, so hint nothing and let stats/AQE pick the build
      // side per scale.
      cand
        .join(docs.alias("da"), col("doc_a") === col("da.doc_id"))
        .join(docs.alias("db"), col("doc_b") === col("db.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("da.prefix"), col("db.prefix")).cast("long")
            .as("prefix_dist"))
    })

  val urlCanonical = Q(
    "dedup_url_canonical",
    "URL-CANONICALIZATION DEDUP — the FIRST dedup stage of published web " +
      "pipelines (RefinedWeb/CCNet run it before any content hashing, " +
      "because a crawler revisits the same page under cosmetically " +
      "different URLs): scheme/host case, an explicit :443 default port, " +
      "a trailing slash, '/./' dot-segments, #fragments, and utm_* " +
      "tracking parameters all name ONE page. Each doc's URL is " +
      "synthesized with a doc-dependent noise VARIANT (the corpus " +
      "carries no URL column — src_url_filter's convention; at " +
      "production WARC-Target-URI supplies it), canonicalized by pure " +
      "string/regex normalization — lowercase scheme+host, strip :443, " +
      "drop fragment, collapse '/./', delete utm_* params and any " +
      "dangling '?'/'&', strip the trailing slash — and docs collapse " +
      "by canonical URL. The output CARRIES the canonical string, so " +
      "the oracle (independent RE2 machinery in DuckDB vs Java regex " +
      "here) catches a normalization bug as value drift, not just a " +
      "grouping bug. Scale: one projection + one hash aggregation by " +
      "canon key — exactly dedup_exact's shuffle shape; the regex " +
      "chain is per-row codegen'd string work. keep_doc = min doc_id, " +
      "the keep-one convention of the exact dedup family.",
    Some("""
      WITH u AS (SELECT doc_id,
                        doc_id % 100 AS pid,
                        (doc_id % 100) % 20 AS h,
                        doc_id % 6 AS v
                 FROM documents),
           raw AS (SELECT doc_id,
                     CASE v
                       WHEN 0 THEN 'https://Host' || h || '.Example.com/articles/' || pid
                       WHEN 1 THEN 'HTTPS://host' || h || '.example.com/articles/' || pid || '/'
                       WHEN 2 THEN 'https://host' || h || '.example.com:443/articles/' || pid || '?utm_source=feed'
                       WHEN 3 THEN 'https://host' || h || '.example.com/articles/' || pid || '#section-2'
                       WHEN 4 THEN 'https://host' || h || '.example.com/articles/' || pid || '?utm_campaign=x&utm_medium=y'
                       ELSE 'https://host' || h || '.example.com/./articles/' || pid
                     END AS url
                   FROM u),
           p AS (SELECT doc_id, url,
                        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
                        regexp_replace(url, '^[A-Za-z]+://', '') AS rest
                 FROM raw),
           hp AS (SELECT doc_id, url, scheme,
                         lower(regexp_extract(rest, '^([^/?#]+)', 1)) AS hostport,
                         substr(rest, len(regexp_extract(rest, '^([^/?#]+)', 1)) + 1)
                           AS pathq
                  FROM p),
           c AS (SELECT doc_id, url, scheme,
                        regexp_replace(hostport, ':443$', '') AS host,
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              replace(regexp_replace(pathq, '#.*$', ''),
                                      '/./', '/'),
                              'utm_[^&#]*&?', '', 'g'),
                            '[?&]+$', ''),
                          '/$', '') AS path
                 FROM hp)
      SELECT scheme || '://' || host || path AS canon_url,
             count(*)::BIGINT AS n_docs,
             count(DISTINCT url)::BIGINT AS n_raw_forms,
             min(doc_id) AS keep_doc
      FROM c
      GROUP BY 1""".stripMargin),
    (spark, dir) => {
      val u = t(spark, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 100).as("pid"),
          ((col("doc_id") % 100) % 20).as("h"),
          (col("doc_id") % 6).as("v"))
      val base = concat(lit("https://host"), col("h"),
        lit(".example.com/articles/"), col("pid"))
      val raw = u.select(col("doc_id"),
        when(col("v") === 0, concat(lit("https://Host"), col("h"),
            lit(".Example.com/articles/"), col("pid")))
          .when(col("v") === 1, concat(base, lit("/")))
          .when(col("v") === 2, concat(lit("https://host"), col("h"),
            lit(".example.com:443/articles/"), col("pid"),
            lit("?utm_source=feed")))
          .when(col("v") === 3, concat(base, lit("#section-2")))
          .when(col("v") === 4,
            concat(base, lit("?utm_campaign=x&utm_medium=y")))
          .otherwise(concat(lit("https://host"), col("h"),
            lit(".example.com/./articles/"), col("pid")))
          .as("url"))
      val c = raw
        .withColumn("scheme",
          lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
        .withColumn("rest", regexp_replace(col("url"), "^[A-Za-z]+://", ""))
        .withColumn("hostport",
          lower(regexp_extract(col("rest"), "^([^/?#]+)", 1)))
        .withColumn("pathq",
          expr("substr(rest, length(regexp_extract(rest, '^([^/?#]+)', 1)) + 1)"))
        .withColumn("host", regexp_replace(col("hostport"), ":443$", ""))
        .withColumn("path",
          regexp_replace(
            regexp_replace(
              regexp_replace(
                expr("replace(regexp_replace(pathq, '#.*$', ''), '/./', '/')"),
                "utm_[^&#]*&?", ""),
              "[?&]+$", ""),
            "/$", ""))
      c.groupBy(concat(col("scheme"), lit("://"), col("host"), col("path"))
          .as("canon_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_forms"),
          min(col("doc_id")).as("keep_doc"))
    })

  val containment = Q(
    "dedup_containment",
    "CONTAINMENT dedup — the asymmetric overlap measure Jaccard is blind " +
      "to: a short document quoted whole inside a long one (wire-service " +
      "copy in a news page, a README embedded in a crawl of its repo) has " +
      "LOW Jaccard (the union is dominated by the long doc) but " +
      "containment |A∩B|/|A| ≈ 1 on the short side — the Broder (1997) " +
      "distinction; production pipelines filter on max-containment " +
      "exactly because subset-dups survive a Jaccard threshold. " +
      "Candidates come from the SAME shared MinHash band machinery as " +
      "dedup_lsh_verified (one shingle scan, bucketed equi joins, capped " +
      "buckets — never a product; note honest at scale: Jaccard-LSH " +
      "recall degrades for extreme size asymmetry, where a dedicated " +
      "containment sketch would take over — same plan, different band " +
      "key), then BOTH directed containments are computed exactly from " +
      "the shingle sets and pairs kept at max-containment ≥ 0.5. All " +
      "ratios are exact integer quotients — IEEE-identical across " +
      "engines, no rounding needed.",
    Some(s"""
      WITH sh AS ($ShinglesSql),
           sig AS ($SignaturesSql),$CandSql,
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           common AS (
             SELECT c.doc_a, c.doc_b, count(*) AS n_common
             FROM cand c
             JOIN sh a ON a.doc_id = c.doc_a
             JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
             GROUP BY c.doc_a, c.doc_b)
      SELECT doc_a, doc_b, n_common::BIGINT AS n_common,
             n_common / sa.n AS contain_a,
             n_common / sb.n AS contain_b,
             greatest(n_common / sa.n, n_common / sb.n) AS containment
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE greatest(n_common / sa.n, n_common / sb.n) >= 0.5""".stripMargin),
    (spark, dir) => {
      val sh = Q.materialize(shingles(spark, dir))
      val cand = candidatePairsFrom(signaturesFrom(sh))
        .select(col("doc_a"), col("doc_b"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val common = cand
        .join(sh.alias("a"), col("doc_a") === col("a.doc_id"))
        .join(sh.alias("b"), col("doc_b") === col("b.doc_id") &&
          col("b.shingle") === col("a.shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val ca = col("n_common") / col("sa.n")
      val cb = col("n_common") / col("sb.n")
      common
        .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
        .filter(greatest(ca, cb) >= 0.5)
        .select(col("doc_a"), col("doc_b"),
          col("n_common").cast("long").as("n_common"),
          ca.as("contain_a"), cb.as("contain_b"),
          greatest(ca, cb).as("containment"))
    })

  val keepBest = Q(
    "dedup_keep_best",
    "The KEEP decision a dedup pipeline actually executes — " +
      "dedup_components says which docs are the same; this says which " +
      "copy survives (published pipelines keep the best-quality member " +
      "of each near-dup cluster rather than an arbitrary one): per " +
      "cluster, the member with the highest composite quality score " +
      "(the shared ta_quality_score expression, rounded to 6 decimals " +
      "before comparison so the argmax is engine-exact), doc_id " +
      "tie-break. Built on the SAME componentAssignment iteration as " +
      "dedup_components (single definition) plus ONE further " +
      "aggregation: argmax as max(struct(q6, -doc_id)) — " +
      "partial-aggregable map-side, no per-cluster window — emitting " +
      "per cluster the size, token volume, kept doc and its quality. " +
      "At 100 TB this is components' cost plus one (canonical_id) " +
      "shuffle of fixed-width rows.",
    Some(s"""
      WITH RECURSIVE $VerifiedCtes,
           edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
                     UNION ALL SELECT doc_b, doc_a FROM verified),
           reach(node, m) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b),
           asg AS (SELECT node AS doc_id, min(m) AS canonical_id
                   FROM reach GROUP BY node),
           q AS (SELECT doc_id,
                        len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
                        len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct
                 FROM documents),
           qq AS (SELECT doc_id, n_tokens,
                         round((${TextOps.QualitySql}) + 1e-9, 6) AS q6
                  FROM q),
           j AS (SELECT a.canonical_id, qq.doc_id, qq.n_tokens, qq.q6
                 FROM asg a JOIN qq ON qq.doc_id = a.doc_id),
           best AS (SELECT canonical_id, doc_id AS keep_doc_id,
                           q6 AS keep_quality
                    FROM (SELECT *, row_number() OVER (
                            PARTITION BY canonical_id
                            ORDER BY q6 DESC, doc_id) AS rk
                          FROM j)
                    WHERE rk = 1)
      SELECT j.canonical_id, count(*)::BIGINT AS n_members,
             sum(j.n_tokens)::BIGINT AS total_tokens,
             max(b.keep_doc_id)::BIGINT AS keep_doc_id,
             max(b.keep_quality) AS keep_quality
      FROM j JOIN best b ON b.canonical_id = j.canonical_id
      GROUP BY j.canonical_id""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val asg = componentAssignment(spark, dir)
        .select(col("doc_id"), col("canonical_id"))
      val qq = t(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("n_tokens"),
          round(TextOps.qualityCol + lit(1e-9), 6).as("q6"))
      // ONE aggregation: cluster census + deterministic argmax via
      // max(struct(q6, -doc_id)) — highest quality, then lowest id.
      asg.join(qq, "doc_id")
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).cast("long").as("n_members"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          max(struct(col("q6"), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("canonical_id"), col("n_members"), col("total_tokens"),
          (-col("m.nd")).cast("long").as("keep_doc_id"),
          col("m.q6").as("keep_quality"))
    })

  /** Character-level LCP of `a` with neighbor column `nb`, capped at the
    * stored suffix width: first-mismatch position over a generated index
    * sequence — the identical textual form runs in DuckDB (array_position
    * and list_position both return 0 on miss, so the nullif/coalesce
    * closure is engine-identical).
    */
  // private[graft]: LcpSpec pins graft.functions.Lcp (the codegen form
  // the query runs, round 13) against this SQL form bit for bit.
  private[graft] def lcpSql(a: String, nb: String): String =
    s"""coalesce(nullif(array_position(transform(
       |  sequence(1, cast(least(length($a), length($nb)) as int)),
       |  j -> substring($a, j, 1) = substring($nb, j, 1)), false), 0) - 1,
       |  least(length($a), length($nb)))""".stripMargin

  /** Occurrence cap per 20-char block for [[substringDup]]: blocks with
    * more suffix occurrences than this bypass the lead/lag LCP window
    * (whose partitions they would otherwise be — the one window skew AQE
    * cannot split) and take a partial-aggregable census path instead.
    * 1024 rows sort trivially per partition; the test SFs' max block
    * occurrence is 9 (measured), so the cap changes nothing there.
    */
  private[graft] val SubstringBlockCap = 1024

  val substringDup = Q(
    "dedup_substring",
    "EXACT-SUBSTRING dedup census (Lee et al. 2022, 'Deduplicating " +
      "Training Data Makes Language Models Better' — the suffix-array " +
      "method, at character granularity): for every suffix position in " +
      "every doc, does its 20-char prefix occur in ANOTHER doc, and what " +
      "is the longest cross-doc shared substring (capped at the stored " +
      "64-char suffix width)? Mechanics are the suffix-array adjacency " +
      "theorem made distributed: suffixes sharing >= 20 chars " +
      "necessarily share their 20-char BLOCK key, so blocking replaces " +
      "the global suffix sort with per-block sorted runs — the max " +
      "cross-doc LCP is attained at an ADJACENT pair (one side in the " +
      "doc) of the block-local order, by the standard min-over-path " +
      "argument, so lead/lag over a blk-PARTITIONED window finds it " +
      "without any all-pairs compare. Cross-doc existence per block is " +
      "min(doc)!=max(doc) — one window pass, one shuffle, no " +
      "countDistinct. At 100 TB the suffix explosion is ~L rows per doc " +
      "(the dedup_span shape at every position instead of stride 8) " +
      "keyed by fixed 20-byte blocks, and the one skew surface — a " +
      "corpus-wide boilerplate 20-gram concentrating a window partition " +
      "(which AQE cannot split: its skew handling covers joins, not " +
      "windows) — is closed by an occurrence CAP: blocks over " +
      "SubstringBlockCap occurrences bypass the window for a " +
      "partial-aggregable census whose shared-length contribution is " +
      "the 20-char block-width lower bound, mirrored exactly in the " +
      "oracle (the LSH bucket-cap contract; see substringCensus). " +
      "The 64-char stored-suffix width is a REPORTING-RESOLUTION knob, " +
      "not a recall knob: every position of an arbitrarily long shared " +
      "span still flags (existence is 20-char blocking, unaffected), " +
      "the measured LCP just saturates at 64 — and since consecutive " +
      "positions of a long span all saturate, a downstream span-removal " +
      "pass recovers the full extent by chaining them (Lee et al.'s " +
      "removal needs exactly this flag-and-extend). What the width " +
      "TRADES is shuffle volume, linearly: suffix rows carry width " +
      "bytes per corpus char (the stored form is blk + the width-20 " +
      "tail beyond it — round 13 stopped duplicating blk inside the " +
      "suffix column, ~24% off the round-12 measured widths), so the " +
      "g100-measured 53.9 GB live shuffle at width 64 becomes ~2x at " +
      "128 and ~4x at 256 — the first past this probe disk's budget, " +
      "which is why the slope ladder runs at 64. " +
      "Output per doc: duplicated-position count + longest cross-doc " +
      "shared length.",
    Some(s"""
      WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 20),
           suf AS (SELECT doc_id, i AS pos,
                          substr(text, (i+1)::INT, 64) AS s64,
                          substr(text, (i+1)::INT, 20) AS blk
                   FROM (SELECT doc_id, text, unnest(range(0, length(text) - 19)) AS i
                         FROM d)),
           hot AS (SELECT blk FROM (SELECT blk, count(*) AS occ
                                    FROM suf GROUP BY blk)
                   WHERE occ > $SubstringBlockCap),
           cold AS (SELECT * FROM suf
                    WHERE blk NOT IN (SELECT blk FROM hot)),
           w AS (SELECT doc_id, pos, s64,
                        min(doc_id) OVER (PARTITION BY blk) AS mind,
                        max(doc_id) OVER (PARTITION BY blk) AS maxd,
                        lead(s64) OVER ord AS nxt,
                        lead(doc_id) OVER ord AS nxtd,
                        lag(s64) OVER ord AS prv,
                        lag(doc_id) OVER ord AS prvd
                 FROM cold
                 WINDOW ord AS (PARTITION BY blk ORDER BY s64, doc_id, pos)),
           p AS (SELECT doc_id,
                        CASE WHEN nxtd IS NOT NULL AND nxtd <> doc_id THEN
                          coalesce(nullif(list_position(list_transform(
                            range(1, least(length(s64), length(nxt))::BIGINT + 1),
                            j -> substr(s64, j::INT, 1) = substr(nxt, j::INT, 1)), false), 0) - 1,
                            least(length(s64), length(nxt)))
                        END AS lcp_n,
                        CASE WHEN prvd IS NOT NULL AND prvd <> doc_id THEN
                          coalesce(nullif(list_position(list_transform(
                            range(1, least(length(s64), length(prv))::BIGINT + 1),
                            j -> substr(s64, j::INT, 1) = substr(prv, j::INT, 1)), false), 0) - 1,
                            least(length(s64), length(prv)))
                        END AS lcp_p
                 FROM w WHERE mind <> maxd),
           coldc AS (SELECT doc_id, count(*)::BIGINT AS n_dup_pos,
                            greatest(max(lcp_n), max(lcp_p))::BIGINT AS max_shared
                     FROM p GROUP BY doc_id),
           hotr AS (SELECT s.doc_id, s.blk FROM suf s JOIN hot h USING (blk)),
           hots AS (SELECT blk, min(doc_id) AS mind, max(doc_id) AS maxd
                    FROM hotr GROUP BY blk),
           hotc AS (SELECT r.doc_id, count(*)::BIGINT AS n_dup_pos,
                           20::BIGINT AS max_shared
                    FROM hotr r JOIN hots s USING (blk)
                    WHERE s.mind <> s.maxd GROUP BY r.doc_id),
           u AS (SELECT * FROM coldc UNION ALL SELECT * FROM hotc)
      SELECT doc_id, sum(n_dup_pos)::BIGINT AS n_dup_pos,
             max(max_shared)::BIGINT AS max_shared
      FROM u GROUP BY doc_id""".stripMargin),
    (spark, dir) =>
      // Fanned scan (round 13): the per-position suffix explosion is the
      // heaviest expansion in the repo (~84 bytes emitted per corpus
      // char); serial map stages here cost 8.9 → 2.8 s at sf0.1.
      substringCensus(Tables.fanned(spark, dir, "documents"),
        SubstringBlockCap))

  /** The capped exact-substring census behind `dedup_substring` — split
    * out so the spec can plant a corpus-wide boilerplate block and prove
    * the cap contract at a small `cap`.
    *
    * COLD blocks (occurrences <= cap): the suffix-adjacency LCP window,
    * partitions bounded by `cap` BY CONSTRUCTION — no corpus-wide
    * boilerplate 20-gram can concentrate the window exchange.
    * HOT blocks (occurrences > cap): every position in a cross-doc hot
    * block is trivially a duplicated position, so the census needs only
    * partial-aggregable counts; the shared-length contribution is
    * reported as the 20-char BLOCK WIDTH — a lower bound (refining it
    * would be exactly the unbounded per-block sort the cap exists to
    * avoid). A doc whose longest shared substring lives ONLY in hot
    * blocks therefore reports max_shared=20 — the documented, oracle-
    * mirrored cap contract (the LSH bucket-cap shape).
    *
    * Cost of skew detection: one extra aggregation over the suffix
    * explosion — but map-side combine collapses it to one (20-byte blk,
    * count) pair per block per map partition, and the surviving hot set
    * is <= n_rows/cap blocks, broadcast to both branch joins (zero added
    * exchange for the data rows beyond the count pass).
    */
  private[graft] def substringCensus(docs: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame = {
    // Deliberately NOT materialized: the suffix explosion is ~64x the
    // corpus bytes (20+44 chars per input char since round 13), so
    // checkpointing it would dwarf the cost it saves — the three
    // consumers (hot count, cold anti-join, hot semi-join) each re-run
    // the cheap codegen explode over the (OS-cached) corpus scan instead.
    // The suffix row carries blk (20 chars) + s44 — the suffix BEYOND the
    // block key — instead of the round-12 blk + s64 whose first 20 chars
    // duplicated blk: within a window partition blk is constant, so
    // ordering by s44 is ordering by s64, and LCP(s64, s64') =
    // 20 + LCP(s44, s44') exactly (blk is always exactly 20 chars — the
    // length filter guarantees it). Saves the duplicated 20 chars per
    // row through the window exchange (~24% of the live shuffle at the
    // g100 probe's measured widths). The oracle keeps the s64 form —
    // the equality above is what the driver's hash compare certifies.
    val suf = docs
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("text")) - 20)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        expr("substring(text, pos + 21, 44)").as("s44"),
        expr("substring(text, pos + 1, 20)").as("blk"))
    // Skew detection in TWO phases (round 13; was one string-keyed count
    // over the whole explosion): phase 1 counts by xxhash64(blk) — an
    // 8-byte key instead of 20, so the full-explosion exchange carries
    // ~43% fewer bytes and the hash aggregate runs on primitive longs —
    // and yields a SUPERSET of the hot blocks (a collision can only
    // merge counts upward, never hide a hot block). Phase 2, reached
    // only when candidates exist, recounts EXACTLY those candidate
    // hashes by true blk — a broadcast-semi-filtered pass whose shuffle
    // is bounded by the candidate rows — so the hot set is exactly
    // occ(blk) > cap, the oracle-mirrored contract. On every healthy
    // corpus the verdict is still ONE driver boolean off phase 1.
    val candHash = suf
      .groupBy(xxhash64(col("blk")).as("bh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select(col("bh"))
    val anyCand = !candHash.isEmpty
    val hot =
      if (!anyCand) null
      else suf.join(broadcast(candHash),
          xxhash64(col("blk")) === col("bh"), "left_semi")
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > cap)
        .select(col("blk"))
    val anyHot = anyCand && !hot.isEmpty
    val cold =
      if (anyHot) suf.join(broadcast(hot), Seq("blk"), "left_anti") else suf
    val wOrd = Window.partitionBy(col("blk"))
      .orderBy(col("s44"), col("doc_id"), col("pos"))
    // min/max ride the SAME ordered spec with a full-partition frame —
    // a second unordered window spec would re-sort the explosion.
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val coldCensus = cold
      .withColumn("mind", min(col("doc_id")).over(wAll))
      .withColumn("maxd", max(col("doc_id")).over(wAll))
      .withColumn("nxt", lead(col("s44"), 1).over(wOrd))
      .withColumn("nxtd", lead(col("doc_id"), 1).over(wOrd))
      .withColumn("prv", lag(col("s44"), 1).over(wOrd))
      .withColumn("prvd", lag(col("doc_id"), 1).over(wOrd))
      .filter(col("mind") =!= col("maxd"))
      // Codegen LCP (round 13): [[graft.functions.Lcp]] replaces the
      // lcpSql HOF chain here — same value character for character
      // (LcpSpec pins expression == SQL form), no per-row array
      // allocations, and the window stage's projection stays inside
      // whole-stage codegen instead of CodegenFallback lambda dispatch.
      // The adjacent pair shares blk, so the s64-form LCP is the 20-char
      // block plus the s44 LCP.
      .withColumn("lcp_n",
        when(col("nxtd").isNotNull && col("nxtd") =!= col("doc_id"),
          lit(20L) + graft.functions.Lcp(col("s44"), col("nxt")))
          .otherwise(lit(null)))
      .withColumn("lcp_p",
        when(col("prvd").isNotNull && col("prvd") =!= col("doc_id"),
          lit(20L) + graft.functions.Lcp(col("s44"), col("prv")))
          .otherwise(lit(null)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_pos"),
        greatest(max(col("lcp_n")), max(col("lcp_p"))).cast("long")
          .as("max_shared"))
    if (!anyHot) return coldCensus
    // Hot path: per-(blk, doc) position counts collapse map-side, so a
    // block with a billion occurrences exchanges one row per (blk, doc,
    // map partition) — never the positions themselves.
    val hotRows = suf.join(broadcast(hot), Seq("blk"), "left_semi")
      .groupBy(col("blk"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_pos"))
    val hotStats = hotRows.groupBy(col("blk"))
      .agg(min(col("doc_id")).as("mind"), max(col("doc_id")).as("maxd"))
    val hotCensus = hotRows.join(hotStats, "blk")
      .filter(col("mind") =!= col("maxd"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pos")).cast("long").as("n_dup_pos"))
      .withColumn("max_shared", lit(20L))
    coldCensus.unionByName(hotCensus)
      .groupBy(col("doc_id"))
      .agg(sum(col("n_dup_pos")).cast("long").as("n_dup_pos"),
        max(col("max_shared")).cast("long").as("max_shared"))
  }

  val lineDedup = Q(
    "dedup_lines",
    "LINE-LEVEL boilerplate dedup — the CCNet/RefinedWeb preprocessing " +
      "step that runs BEFORE document-level dedup: lines repeated across " +
      "many documents (nav menus, cookie banners, footers) are removed " +
      "from every document, by corpus-wide line frequency — a different " +
      "shape from dedup_span (pairwise shared spans) or dedup_exact " +
      "(whole-doc): the unit is the sub-document segment and the signal " +
      "is its DOCUMENT FREQUENCY. This corpus carries no newlines, so " +
      "the segmentation parameter is non-overlapping 3-word chunks " +
      "(production splits on '\\n'; the census is segmentation-agnostic). " +
      "Plan: one split (map-side — segments come from array slicing, NO " +
      "reassembly shuffle), segments keyed by md5 digest so the text " +
      "itself never shuffles (the dedup_exact rule), ONE digest-keyed " +
      "census with countDistinct(doc) — partial-aggregable — a HAVING " +
      "df >= 3 boilerplate set joined back BY KEY (at 100 TB the " +
      "frequent-line set is corpus-sized/threshold — NOT broadcastable; " +
      "the equi join is the honest shape), and a per-doc removal count " +
      "folded onto the doc frame by left join. Output is all-integer " +
      "(no rounding law needed): per doc, words, full segments, removed " +
      "segments, retained words.",
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           base AS (SELECT doc_id, len(ws)::BIGINT AS n_words, ws FROM d),
           seg AS (SELECT doc_id,
                          md5(array_to_string(
                            list_slice(ws, (i*3+1)::INT, (i*3+3)::INT), ' ')) AS seg
                   FROM (SELECT doc_id, ws, unnest(range(0, len(ws)//3)) AS i
                         FROM base WHERE len(ws) >= 3)),
           boiler AS (SELECT seg FROM seg GROUP BY seg
                      HAVING count(DISTINCT doc_id) >= 3),
           rem AS (SELECT doc_id, count(*)::BIGINT AS n_removed
                   FROM seg JOIN boiler USING (seg) GROUP BY doc_id)
      SELECT b.doc_id, b.n_words, (b.n_words // 3)::BIGINT AS n_segs,
             coalesce(r.n_removed, 0)::BIGINT AS n_removed,
             (b.n_words - 3 * coalesce(r.n_removed, 0))::BIGINT AS n_words_retained
      FROM base b LEFT JOIN rem r USING (doc_id)""".stripMargin),
    (spark, dir) => {
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("ws"),
          size(col("ws")).cast("long").as("n_words"))
      // Map-side segmentation: slice the word array per segment index —
      // no (doc, seg_id) reassembly shuffle. Referenced twice (census +
      // removal count) -> materialized per the repo convention.
      val seg = Q.materialize(base.filter(col("n_words") >= 3)
        .select(col("doc_id"),
          explode(expr("transform(sequence(0, int(n_words div 3) - 1), " +
            "i -> md5(concat_ws(' ', slice(ws, int(i*3+1), 3))))")).as("seg")))
      val boiler = seg.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .select(col("seg"))
      val removed = seg.join(boiler, "seg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_removed"))
      base.select(col("doc_id"), col("n_words"))
        .join(removed, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_removed"))
        .select(col("doc_id"), col("n_words"),
          expr("n_words div 3").cast("long").as("n_segs"),
          col("n_removed"),
          (col("n_words") - lit(3) * col("n_removed")).cast("long")
            .as("n_words_retained"))
    })

  val prefixJoin = Q(
    "dedup_prefix_join",
    "PREFIX-FILTERING set-similarity join (Bayardo et al. WWW'07 / " +
      "PPJoin's core) — the EXACT all-pairs companion to the " +
      "probabilistic LSH pipeline: every pair with shingle-Jaccard >= " +
      "0.5, NO false negatives, by theorem — two sets with J >= t MUST " +
      "share a token among each one's first |d| - ceil(t|d|) + 1 tokens " +
      "under any global total order. The order is ascending document " +
      "frequency (rarest first, shingle tie-break), which is also the " +
      "skew defense: prefix tokens are the corpus's RAREST shingles, so " +
      "the candidate equi-join's groups stay small where a random order " +
      "would bucket on stop-shingles. Candidates additionally pass the " +
      "length filter min(|a|,|b|) >= t*max(|a|,|b|), then ONLY " +
      "candidates pay the exact intersection join — same verify shape " +
      "and output columns as dedup_lsh_verified, so the exact and " +
      "LSH answers are directly comparable (PrefixJoinSpec asserts " +
      "equality with brute force; at this threshold both methods find " +
      "the same 25 pairs, measured). PPJoin's POSITIONAL filter rides " +
      "on top: the shared prefix token's position bounds the " +
      "achievable overlap (<= 1 + min(|a|-pos_a, |b|-pos_b)), and " +
      "J >= t needs overlap >= t/(1+t)(|a|+|b|) — still zero false " +
      "negatives, candidates 772 -> 27 here (the 25 answers + 2), 28x " +
      "less verification work. All shuffles carry shingle " +
      "strings or ids; the doc text never moves after the one scan. " +
      "SATURATION GUARD: the prefix-df census (exactly the candidate " +
      "count) gates the join — on a vocabulary-saturated corpus, where " +
      "any exact prefix join goes quadratic, the query fails loudly, " +
      "naming its bound (spark.graft.prefixJoin.maxCandidates) and " +
      "dedup_lsh_verified, instead of silently melting.",
    Some(s"""
      WITH sh AS ($ShinglesSql),
           dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           ord AS (SELECT s.doc_id, s.shingle, z.n,
                          row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df, s.shingle) AS rn
                   FROM sh s JOIN dfq d USING (shingle)
                   JOIN sz z USING (doc_id)),
           pre AS (SELECT * FROM ord
                   WHERE rn <= n - ceil(0.5 * n)::BIGINT + 1),
           cand AS (SELECT doc_a, doc_b FROM (
                      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             a.n AS na, b.n AS nb,
                             max(1 + least(a.n - a.rn, b.n - b.rn)) AS ub
                      FROM pre a JOIN pre b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      WHERE least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
                      GROUP BY doc_a, doc_b, na, nb)
                    WHERE ub >= ceil(0.5 / (1 + 0.5) * (na + nb))),
           inter AS (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_common
                     FROM cand c
                     JOIN sh x ON x.doc_id = c.doc_a
                     JOIN sh y ON y.doc_id = c.doc_b
                              AND y.shingle = x.shingle
                     GROUP BY c.doc_a, c.doc_b)
      SELECT i.doc_a, i.doc_b, i.n_common,
             i.n_common / (za.n + zb.n - i.n_common) AS jaccard
      FROM inter i
      JOIN sz za ON za.doc_id = i.doc_a
      JOIN sz zb ON zb.doc_id = i.doc_b
      WHERE i.n_common / (za.n + zb.n - i.n_common) >= 0.5""".stripMargin),
    (spark, dir) => {
      // fan = false: this query's pipeline is join/window passes over the
      // MATERIALIZED shingle set — the r13 fan-out A/B measured it slower
      // under the fanned layout (see shingles' doc).
      val sh = Q.materialize(shingles(spark, dir, fan = false)
        .select(col("doc_id"), col("shingle")))
      val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val ord = sh.join(dfq, "shingle").join(sz, "doc_id")
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
      val pre = Q.materialize(ord.filter(
        col("rn") <= col("n") - ceil(lit(0.5) * col("n")).cast("long") + 1))
      // SATURATION GUARD (round 9): an exact prefix join's candidate
      // count is exactly Σ_token C(df_pre, 2) over the PREFIX frame —
      // one cheap aggregate on the already-materialized `pre` plus a
      // 1-row driver read predicts the join's output before paying for
      // it. On Heaps'-law corpora prefix dfs stay bounded and this is
      // ~linear; on a VOCABULARY-SATURATED corpus (the g1 probe: a
      // 31-word vocabulary caps the 3-shingle space at ~30k, so df
      // scales with N and Σdf² goes quadratic — 444k → 55.7M measured
      // candidates per decade) no exact prefix join can stay linear.
      // The guard makes the documented scale path ENFORCED, not
      // advisory: past `spark.graft.prefixJoin.maxCandidates` (default
      // 20M — g1's saturated 55.7M trips, a decade of healthy growth
      // does not; the bound is sized to the workload) the query fails
      // loudly, naming the bound and dedup_lsh_verified (the capped
      // LSH+exact-verify pipeline, same output columns, probabilistic
      // candidates), instead of quietly going quadratic. It never
      // answers with that query's pairs under its own name. The DuckDB
      // oracle mirrors the UNSATURATED regime (the guard never trips at
      // oracle SFs — asserted in PrefixJoinSpec).
      val maxCand = spark.conf
        .get("spark.graft.prefixJoin.maxCandidates", "20000000").toLong
      val predicted = pre.groupBy(col("shingle"))
        .agg(count(lit(1)).as("dfp"))
        .agg(coalesce(sum(expr("dfp * (dfp - 1)")), lit(0L)).as("s"))
        .first().getLong(0) / 2
      if (predicted > maxCand) throw new IllegalStateException(
        s"dedup_prefix_join: prefix-df census predicts $predicted " +
          s"candidate pairs > bound $maxCand — the shingle vocabulary " +
          "is saturated and an exact prefix join would go quadratic. " +
          "Raise spark.graft.prefixJoin.maxCandidates to accept the " +
          "cost, or run dedup_lsh_verified (probabilistic candidates, " +
          "exact verify) instead.")
      val a = pre.select(col("doc_id").as("doc_a"), col("shingle"),
        col("n").as("na"), col("rn").as("rna"))
      val b = pre.select(col("doc_id").as("doc_b"), col("shingle"),
        col("n").as("nb"), col("rn").as("rnb"))
      // PPJoin's POSITIONAL filter on top of the prefix filter: the
      // position of the shared token bounds the achievable overlap —
      // overlap <= 1 + min(|a| - pos_a, |b| - pos_b) — and J >= t needs
      // overlap >= t/(1+t)·(|a|+|b|). Still zero false negatives (the
      // bound is an upper bound), but candidates drop 772 -> 27 on this
      // corpus (the 25 true pairs + 2) — 28x less verification work.
      val cand = a.join(b, Seq("shingle"))
        .filter(col("doc_a") < col("doc_b")
          && least(col("na"), col("nb"))
            >= lit(0.5) * greatest(col("na"), col("nb")))
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(max(lit(1) + least(col("na") - col("rna"),
          col("nb") - col("rnb"))).as("ub"))
        .filter(col("ub") >=
          ceil(lit(0.5) / (lit(1) + lit(0.5)) * (col("na") + col("nb"))))
        .select(col("doc_a"), col("doc_b"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
          Seq("doc_b", "shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      inter
        .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          (col("n_common") / (col("na") + col("nb") - col("n_common")))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    })

  val all: Seq[Q] = Seq(exact, minhashSig, minhashPairs, ngramJaccard,
    simhash, simhashHamming, lshVerified, components, editDistance,
    urlCanonical, containment, keepBest, substringDup, lineDedup,
    prefixJoin)
}
