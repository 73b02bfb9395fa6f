package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text workload over `documents`: the reference's Map/Reduce application
  * queries (SURVEY.md §2.2 A1–A5) re-expressed as Catalyst plans at table
  * scale, plus the training-data-pipeline text analysis (language ID, quality
  * scoring, token stats, fingerprinting).
  *
  * The faithful MRApp/engine face of A1–A5 lives in `graft.apps` +
  * `graft.engine.MapReduce` (whole-file granularity, golden-diffed against
  * the sequential oracle in tests, mirroring src/main/test-mr.sh:80-111).
  * Here the same semantics run over a parquet `documents` table — the form
  * that scales to 100 TB: splittable scans, codegen'd split/explode (no
  * UDFs), partial aggregation, no whole-file memory coupling.
  */
object TextOps {
  import Tables.t

  /** Non-letter tokenizer, the A1 `wc` split predicate
    * (src/mrapps/wc.go:21-24) as a regex class — identical in Java and RE2
    * for the ASCII corpus.
    */
  private val SplitPat = "[^a-zA-Z]+"

  val wordcount = Q(
    "mr_wordcount",
    "A1 `wc` at table scale (src/mrapps/wc.go): tokenize on non-letter runs, " +
      "count per word. explode(split(...)) is a codegen'd Generator — the " +
      "reference's map UDTF (E2) — and count's partial agg is the combiner " +
      "the reference lacks.",
    Some(s"""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split_regex(text, '$SplitPat')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(explode(split(col("text"), SplitPat)).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt")))

  val invertedIndex = Q(
    "mr_inverted_index",
    "A2 `indexer` at table scale (src/mrapps/indexer.go): per word the " +
      "doc count and sorted doc list — `\"<n> doc1,doc2\"` shape preserved " +
      "as columns. ONE shuffle: collect_set dedups (word, doc) pairs " +
      "inside the aggregation itself, partially on the map side — round " +
      "1's separate .distinct() before the groupBy shuffled the same " +
      "pairs twice.",
    Some(s"""
      WITH wd AS (
        SELECT DISTINCT word, doc_id
        FROM (SELECT doc_id,
                     unnest(string_split_regex(text, '$SplitPat')) AS word
              FROM documents)
        WHERE word <> '')
      SELECT word, count(*) AS n_docs,
             string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS docs
      FROM wd GROUP BY word""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), SplitPat)).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(collect_set(col("doc_id")).as("doc_set"))
        .select(col("word"),
          size(col("doc_set")).cast("long").as("n_docs"),
          array_join(
            transform(sort_array(col("doc_set")), x => x.cast("string")),
            ",").as("docs")))

  val collector = Q(
    "mr_collector",
    "A3/A4 `crash`/`nocrash` query semantics (src/mrapps/crash.go:45-55): " +
      "collect all values per key and emit the LEXICALLY sorted, " +
      "space-joined list (sort.Strings there). Key = source, values = doc " +
      "ids. collect_list shuffles raw values — the reference's no-combiner " +
      "reduce contract (E8).",
    Some("""
      SELECT source,
             string_agg(doc_id::VARCHAR, ' ' ORDER BY doc_id::VARCHAR) AS members
      FROM documents GROUP BY source""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .groupBy(col("source"))
        .agg(array_join(sort_array(collect_list(col("doc_id").cast("string"))),
          " ").as("members")))

  val filecount = Q(
    "mr_filecount",
    "A5 `early_exit` query semantics (src/mrapps/early_exit.go:19-36): one " +
      "count per input unit (source standing in for filename).",
    Some("SELECT source, count(*) AS cnt FROM documents GROUP BY source"),
    (spark, dir) =>
      t(spark, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("cnt")))

  val grep = Q(
    "mr_grep",
    "Standalone projection+filter (the reference only has these inside map " +
      "UDFs, SURVEY.md §2.4): documents mentioning 'spark'. The contains " +
      "predicate and 3-column projection push into the parquet scan.",
    Some("""
      SELECT doc_id, source, n_chars FROM documents
      WHERE text LIKE '%spark%'""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .filter(col("text").contains("spark"))
        .select("doc_id", "source", "n_chars"))

  // ---- training-data-pipeline text analysis ----

  private val Stop = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  // Shared langid/quality builders — ta_langid / ta_quality_score and the
  // pipeline_corpus_clean funnel MUST compute the same expressions, so they
  // are defined once (Spark columns and SQL fragments in lockstep).

  /** Per-language stopword-hit score columns s_de..s_zh over `text`
    * (shared with the streaming corpus-clean face). */
  private[graft] def langScoreCols: Seq[Column] = Stop.keys.toSeq.sorted.map { lg =>
    size(filter(split(col("text"), " "),
      x => x.isInCollection(Stop(lg)))).as(s"s_$lg")
  }

  private val LangScoresSql: String = Stop.toSeq.sortBy(_._1).map {
    case (lg, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS s_$lg"
  }.mkString(",\n               ")

  /** Argmax language with fixed precedence, over the s_* columns. */
  private[graft] def langPredCol: Column = when(
    col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
      col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
    .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
      col("s_en") >= col("s_zh"), "en")
    .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
    .when(col("s_fr") >= col("s_zh"), "fr")
    .otherwise("zh")

  private val LangPredSql = """CASE
               WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh'
             END"""

  /** Composite quality score over n_tokens / n_distinct columns (shared
    * with the cross-modal curation join and the streaming face). */
  private[graft] def qualityCol: Column =
    lit(0.5) * least(col("n_tokens"), lit(200)) / lit(200.0) +
      lit(0.5) * col("n_distinct") / col("n_tokens")

  private[queries] val QualitySql =
    """0.5::DOUBLE * least(n_tokens, 200) / 200.0::DOUBLE
               + 0.5::DOUBLE * n_distinct / n_tokens"""

  val langid = Q(
    "ta_langid",
    "Language ID by stopword-hit scoring (n-gram-free heuristic): count " +
      "stopword occurrences per candidate language over the token array, " +
      "argmax with fixed precedence. Output is the lang×prediction " +
      "contingency table. Pure array expressions — codegen'd, no UDF.",
    Some(s"""
      WITH scored AS (
        SELECT lang,
               $LangScoresSql
        FROM documents)
      SELECT lang,
             $LangPredSql AS lang_pred,
             count(*) AS n_docs
      FROM scored GROUP BY lang, lang_pred""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("lang") +: langScoreCols: _*)
        .withColumn("lang_pred", langPredCol)
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs")))

  val tokenStats = Q(
    "ta_token_stats",
    "Token counting per source: whitespace tokenization, document and token " +
      "totals, average tokens/doc. size(filter(split(...))) never explodes " +
      "rows — O(1) memory per doc.",
    Some("""
      WITH d AS (
        SELECT source,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        FROM documents)
      SELECT source,
             count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS total_tokens,
             round(avg(1.0 * n_tokens) + 1e-6, 2) AS avg_tokens,
             max(n_tokens)::BIGINT AS max_tokens
      FROM d GROUP BY source""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("source"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          Det.r2e(avg(lit(1.0) * col("n_tokens"))).as("avg_tokens"),
          max(col("n_tokens")).cast("long").as("max_tokens")))

  val quality = Q(
    "ta_quality_score",
    "Per-document quality scoring: token count, type-token ratio, average " +
      "word length, and a composite score — the length/diversity heuristics " +
      "of a pretraining quality filter, as pure column expressions. The " +
      "ratios are UNROUNDED: each is the identical IEEE expression tree over " +
      "exact integers on both engines, so the doubles match bitwise (rounding " +
      "would reintroduce HALF_UP-vs-half-even divergence).",
    Some(s"""
      WITH d AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct,
               len(replace(text, ' ', '')) AS n_letters
        FROM documents)
      SELECT doc_id, n_tokens, n_distinct,
             n_distinct / n_tokens AS ttr,
             n_letters / n_tokens AS avg_word_len,
             $QualitySql AS quality
      FROM d""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      t(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          length(regexp_replace(col("text"), " ", "")).as("n_letters"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_distinct") / col("n_tokens")).as("ttr"),
          (col("n_letters") / col("n_tokens")).as("avg_word_len"),
          qualityCol.as("quality"))
    })

  val fingerprint = Q(
    "ta_fingerprint",
    "Document fingerprinting: md5 over the normalized text (lowercase, " +
      "alnum only) + per-fingerprint collision count via a window — the " +
      "exact-dup detection primitive. md5 is bit-portable across engines.",
    Some("""
      WITH f AS (
        SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
        FROM documents)
      SELECT doc_id, fp,
             count(*) OVER (PARTITION BY fp) AS n_same
      FROM f""".stripMargin),
    (spark, dir) => {
      val w = Window.partitionBy(col("fp"))
      t(spark, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", "")).as("fp"))
        .withColumn("n_same", count(lit(1)).over(w))
    })

  val bpeTokens = Q(
    "ta_bpe_tokens",
    "Token counting with a BPE-ish regex (letter runs | digit runs | single " +
      "other-symbols) next to plain whitespace tokens — the pretraining " +
      "token-budget estimator. regexp_count is codegen'd; no explode.",
    Some("""
      SELECT doc_id,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT
               AS n_bpe_tokens,
             len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
               AS n_ws_tokens
      FROM documents""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast("long").as("n_bpe_tokens"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("n_ws_tokens")))

  val rollingHash = Q(
    "ta_rolling_hash",
    "Polynomial rolling-hash document fingerprint (base 31, 31-bit mask) " +
      "over the character stream — the incremental-hash primitive under " +
      "Rabin-Karp chunking, as a native codegen expression (the round-1 " +
      "higher-order aggregate paid an interpreted lambda + O(i) UTF-8 seek " +
      "per character). Identical code-point fold on both engines.",
    Some("""
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(range(1, len(text) + 1),
                   i -> ord(substr(text, i, 1))::BIGINT)),
               (acc, c) -> (acc * 31 + c) & 2147483647) AS rhash
      FROM documents""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents").select(
        col("doc_id"),
        graft.functions.RollingHash31(col("text")).as("rhash")))

  val tfidf = Q(
    "ta_tfidf",
    "Top-3 TF-IDF terms per document — the relevance/keyword-extraction " +
      "primitive: tf = term count / doc tokens (exact integer ratio), " +
      "idf = ln(N/df). ONE pass over the token explosion builds the " +
      "(doc, term) counts; doc lengths (sum of counts) and document " +
      "frequencies (row counts) both derive from that aggregated frame — " +
      "no second scan of the corpus — and the corpus size joins in as a " +
      "broadcast 1-row aggregate, not a driver-side constant. Ranking " +
      "orders by the rounded score with a term tie-break; the score is " +
      "epsilon-rounded (ln is libm on both engines — identical inputs, " +
      "sub-ulp noise absorbed by the shift).",
    Some("""
      WITH w AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents),
           tf AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY doc_id, term),
           n AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens FROM tf GROUP BY doc_id),
           df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           tot AS (SELECT count(*) AS n_docs FROM documents),
           scored AS (
             SELECT tf.doc_id, tf.term,
                    (1.0 * c / n_tokens) * ln(1.0 * n_docs / df) AS s
             FROM tf
             JOIN n ON n.doc_id = tf.doc_id
             JOIN df ON df.term = tf.term, tot)
      SELECT doc_id, term, rank, round(s + 1e-8, 4) AS tfidf
      FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id
              ORDER BY round(s + 1e-9, 6) DESC, term) AS rank
            FROM scored)
      WHERE rank <= 3""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("c")))
      val n = tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tot = t(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(n, "doc_id").join(dfreq, "term")
        .crossJoin(broadcast(tot))
        .withColumn("s",
          (col("c").cast("double") / col("n_tokens")) *
            log(col("n_docs").cast("double") / col("df")))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(round(col("s") + lit(1e-9), 6).desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("rank"),
          Det.r4e(col("s")).as("tfidf"))
    })

  val corpusClean = Q(
    "pipeline_corpus_clean",
    "The end-to-end corpus-cleaning funnel a pretraining pipeline runs, " +
      "composed from the library's own stages in ONE plan: exact-dedup " +
      "canonicalization (md5 window, keep the min-doc_id representative) → " +
      "quality filter (composite length/diversity score ≥ 0.35) → " +
      "language-consistency filter (stopword-scored prediction must match " +
      "the labeled lang) → per-(source, lang) doc and token budget of the " +
      "surviving corpus. Two exchanges total (the digest window and the " +
      "final agg); every stage is the same column expression its " +
      "standalone query uses. At sf0.01 the funnel keeps 200 of 500 docs.",
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, lang, text,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents),
           feat AS (
        SELECT source, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct,
               $LangScoresSql
        FROM base WHERE doc_id = canonical_id),
           scored AS (
        SELECT source, lang, n_tokens,
               $QualitySql AS quality,
               $LangPredSql AS lang_pred
        FROM feat)
      SELECT source, lang, count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS total_tokens
      FROM scored
      WHERE quality >= 0.35 AND lang_pred = lang
      GROUP BY source, lang""".stripMargin),
    (spark, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      val toks = filter(split(col("text"), " "), x => x =!= "")
      t(spark, dir, "documents")
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id"))
        .select(Seq(col("text"), col("source"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct")) ++
          langScoreCols: _*)
        .withColumn("quality", qualityCol)
        .withColumn("lang_pred", langPredCol)
        .drop("text")
        .filter(col("quality") >= 0.35 && col("lang_pred") === col("lang"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
    })

  val chunkPack = Q(
    "ta_chunk_pack",
    "Sequence chunking — the tokenize-and-pack primitive of a pretraining " +
      "pipeline: each doc split into 64-token windows at stride 48 " +
      "(16-token overlap preserves cross-boundary context), each chunk " +
      "md5-fingerprinted for downstream chunk-level dedup. Pure scan-side " +
      "column math (sequence + slice + concat_ws): the token array is " +
      "built once per doc, chunks explode from it with no shuffle — at " +
      "100 TB this is a map-only stage whose output feeds the packer.",
    Some("""
      WITH d AS (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x <> '') AS toks
                 FROM documents),
           c AS (SELECT doc_id, toks,
                        unnest(range(0, (len(toks) + 47) // 48)) AS chunk_idx
                 FROM d WHERE len(toks) > 0)
      SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
             len(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64])::BIGINT AS n_tokens,
             md5(array_to_string(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' '))
               AS chunk_fp
      FROM c""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => x =!= "").as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"),
          explode(expr("sequence(0L, (size(tk) + 47) div 48 - 1)"))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          expr("slice(tk, cast(chunk_idx*48 + 1 as int), 64)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_fp")))

  val cdcChunks = Q(
    "ta_cdc_chunks",
    "Content-defined chunking (Rabin-Karp CDC, the LBFS/rsync boundary " +
      "rule): cut wherever the rolling hash of the last 8 code points has " +
      "its low 5 bits zero (expected chunk ≈ 32 chars), so boundaries " +
      "depend only on LOCAL content and re-synchronize after edits — " +
      "ta_chunk_pack's fixed-stride windows shift every boundary " +
      "downstream of an insertion; CDC chunks make chunk-level dedup " +
      "robust to it. Cut positions come from the native CdcCuts codegen " +
      "expression (one forward pass, ring buffer, zero allocation per " +
      "row); the oracle recomputes each window's weighted sum directly in " +
      "BIGINT — equal mod 2³¹ by construction, so chunk boundaries and " +
      "md5 fingerprints are bit-portable. Map-only: explode from the cut " +
      "array, no shuffle.",
    Some("""
      WITH cps AS (SELECT doc_id, text,
                          list_transform(range(1, length(text)+1),
                            i -> ord(substr(text, i::INT, 1))::BIGINT) AS cp
                   FROM documents),
           cut AS (SELECT doc_id, text,
                          list_filter(range(8, len(cp)+1), i ->
                            (list_sum(list_transform(range(0, 8),
                               j -> cp[(i-j)::INT] * (31 ** j)::BIGINT))::BIGINT
                              & 31) = 0) AS cuts
                   FROM cps),
           ch AS (SELECT doc_id, text,
                         list_prepend(0::BIGINT, cuts) AS starts,
                         list_append(cuts, length(text)::BIGINT) AS ends
                  FROM cut),
           unn AS (SELECT doc_id, text, i AS chunk_idx,
                          starts[(i+1)::INT] AS s, ends[(i+1)::INT] AS e
                   FROM (SELECT *, unnest(range(0, len(starts))) AS i FROM ch))
      SELECT doc_id, chunk_idx, s AS start_cp, (e - s) AS chunk_chars,
             md5(substr(text, (s+1)::INT, (e-s)::INT)) AS chunk_fp
      FROM unn WHERE e > s""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.CdcCuts(col("text"), 8, 5).as("cuts"))
        .select(col("doc_id"), col("text"),
          expr("concat(array(0L), cuts)").as("starts"),
          expr("concat(cuts, array(cast(length(text) as bigint)))").as("ends"))
        .select(col("doc_id"), col("text"), col("starts"), col("ends"),
          explode(expr("sequence(0L, cast(size(starts) - 1 as long))"))
            .as("chunk_idx"))
        .withColumn("s", expr("starts[cast(chunk_idx as int)]"))
        .withColumn("e", expr("ends[cast(chunk_idx as int)]"))
        .filter(col("e") > col("s"))
        .select(col("doc_id"), col("chunk_idx"), col("s").as("start_cp"),
          (col("e") - col("s")).as("chunk_chars"),
          md5(expr("substring(text, cast(s+1 as int), cast(e-s as int))"))
            .as("chunk_fp")))

  val sampleStratified = Q(
    "pipeline_sample_stratified",
    "Deterministic stratified Bernoulli sampling — the data-mixing " +
      "primitive a training pipeline uses to hit per-source token budgets: " +
      "keep a doc iff lane 0 of the seed-7 md5 digest of its id is below " +
      "rate × 2³², so " +
      "membership is a pure function of the doc id (reproducible across " +
      "runs, engines, and partitionings — Spark's sample() is neither " +
      "deterministic under repartitioning nor mirrorable in SQL) and " +
      "needs no shuffle at all: the filter pushes to the scan side. " +
      "30% target rate; output is the per-source kept/total census with " +
      "the realized exact-ratio rate.",
    Some("""
      WITH s AS (
        SELECT source,
               CASE WHEN ('0x' || substr(md5('7:' || doc_id), 1, 8))::BIGINT
                         < 1288490189 THEN 1 ELSE 0 END AS kept
        FROM documents)
      SELECT source, count(*) AS n_total,
             sum(kept)::BIGINT AS n_sampled,
             sum(kept) / count(*) AS rate
      FROM s GROUP BY source""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("source"),
          when(graft.functions.Md5Lanes(col("doc_id").cast("string"), 7, 1)
            .getItem(0) < lit(1288490189L), 1L).otherwise(0L).as("kept"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("kept")).cast("long").as("n_sampled"),
          (sum(col("kept")) / count(lit(1))).as("rate")))

  val tokenBudget = Q(
    "pipeline_token_budget",
    "Budget-allocated data mixing (the mT5/PaLM temperature-sampling " +
      "stage): a 30%-of-corpus token budget is allocated across sources " +
      "by sqrt-temperature shares (τ=0.5 upsamples small sources — " +
      "rate_i = min(1, B·√S_i / Σ√S_j / S_i)), then each doc keeps/drops " +
      "by the seed-7 md5 lane against ITS SOURCE'S threshold. Per-source " +
      "stats are a tiny broadcast; the corpus streams once through the " +
      "rate join and the census agg — membership stays a pure function " +
      "of (doc_id, per-source rate), reproducible across runs, engines " +
      "and partitionings. Determinism: token counts are exact BIGINTs, " +
      "sqrt is IEEE-exact (unlike pow), and the one summation-order-" +
      "sensitive value (Σ√S_j) is epsilon-rounded on both engines before " +
      "any rate math; the keep threshold is a floor to BIGINT of " +
      "identical doubles.",
    Some("""
      WITH d AS (SELECT doc_id, source,
                        len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n
                 FROM documents),
           s AS (SELECT source, sum(n)::BIGINT AS toks FROM d GROUP BY source),
           tot AS (SELECT sum(toks)::BIGINT AS all_toks,
                          round(sum(sqrt(toks)) + 1e-9, 6) AS sum_sqrt FROM s),
           r AS (SELECT source, toks,
                        least(1.0::DOUBLE, 0.3::DOUBLE * all_toks * sqrt(toks)
                          / sum_sqrt / toks) AS rate
                 FROM s, tot),
           k AS (SELECT d.doc_id, d.source, d.n, r.rate,
                        CASE WHEN ('0x' || substr(md5('7:' || d.doc_id), 1, 8))::BIGINT
                                  < floor(r.rate * 4294967296.0)::BIGINT
                             THEN 1 ELSE 0 END AS kept
                 FROM d JOIN r ON r.source = d.source)
      SELECT source, count(*) AS n_total, sum(kept)::BIGINT AS n_sampled,
             sum(CASE WHEN kept = 1 THEN n ELSE 0 END)::BIGINT AS sampled_tokens,
             rate AS target_rate
      FROM k GROUP BY source, rate""".stripMargin),
    (spark, dir) => {
      val toksN = size(filter(split(col("text"), " "), x => x =!= ""))
        .cast("long")
      val d = t(spark, dir, "documents")
        .select(col("doc_id"), col("source"), toksN.as("n"))
      // Materialized per-source stats (rows = #sources): the budget total
      // and the rate table both read them — un-checkpointed, the rate
      // derivation re-tokenized the corpus for a second stats pass. The
      // query is now the documented two-pass shape exactly: one stats
      // scan, one membership/census scan.
      val s = Q.materialize(
        d.groupBy(col("source")).agg(sum(col("n")).cast("long").as("toks")))
      val tot = s.agg(sum(col("toks")).cast("long").as("all_toks"),
        round(sum(sqrt(col("toks"))) + lit(1e-9), 6).as("sum_sqrt"))
      // Same left-to-right association as the SQL: 0.3·T·√S / Σ√S / S.
      val r = s.crossJoin(broadcast(tot))
        .withColumn("rate", least(lit(1.0),
          lit(0.3) * col("all_toks") * sqrt(col("toks")) / col("sum_sqrt")
            / col("toks")))
        .select(col("source"), col("rate"))
      d.join(broadcast(r), "source")
        .withColumn("kept",
          when(graft.functions.Md5Lanes(col("doc_id").cast("string"), 7, 1)
            .getItem(0) <
            floor(col("rate") * lit(4294967296.0)).cast("long"), 1L)
            .otherwise(0L))
        .groupBy(col("source"), col("rate"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("kept")).cast("long").as("n_sampled"),
          sum(when(col("kept") === 1L, col("n")).otherwise(0L))
            .cast("long").as("sampled_tokens"))
        .select(col("source"), col("n_total"), col("n_sampled"),
          col("sampled_tokens"), col("rate").as("target_rate"))
    })

  val trainingCorpus = Q(
    "pipeline_training_corpus",
    "The capstone: the FULL training-corpus preparation pipeline in ONE " +
      "plan, composed from the library's own stages — exact-dedup " +
      "canonicalization → benchmark decontamination (drop the held-out " +
      "doc_id % 83 slice AND every doc sharing an 8-gram with it, " +
      "ta_decontaminate's exact gram definition via the shared " +
      "CorpusOps.gramFps builder) → quality filter (≥ 0.35) → " +
      "language-consistency filter → deterministic 30% stratified sample " +
      "(seed-7 md5 lane) → 64-token/stride-48 chunking → per-(source, " +
      "lang) doc/chunk/token census. Every stage is the identical " +
      "expression its standalone query declares (single definitions, no " +
      "drift). The decontamination joins are broadcast (bench grams, then " +
      "the contaminated doc-id set — both MB-scale against a 100 TB " +
      "corpus); the corpus-side exchanges stay two (the dedup window and " +
      "the final census agg); sampling and chunking are scan-side. This " +
      "is the query a pretraining data team actually ships.",
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, lang, text,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents),
           tok8 AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
           bgr AS (
        SELECT DISTINCT md5(array_to_string(tk[i+1:i+8], ' ')) AS h
        FROM (SELECT doc_id, tk, unnest(range(0, len(tk)-7)) AS i
              FROM tok8 WHERE len(tk) >= 8 AND doc_id % 83 = 0)),
           cont AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, md5(array_to_string(tk[i+1:i+8], ' ')) AS h
              FROM (SELECT doc_id, tk, unnest(range(0, len(tk)-7)) AS i
                    FROM tok8 WHERE len(tk) >= 8 AND doc_id % 83 <> 0)) g
        JOIN bgr ON bgr.h = g.h),
           prep AS (
        SELECT doc_id, source, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks,
               $LangScoresSql
        FROM base WHERE doc_id = canonical_id),
           feat AS (
        SELECT *, len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_distinct
        FROM prep),
           kept AS (
        SELECT doc_id, source, lang, toks FROM feat
        WHERE doc_id % 83 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM cont)
          AND ($QualitySql) >= 0.35
          AND ($LangPredSql) = lang
          AND ('0x' || substr(md5('7:' || doc_id), 1, 8))::BIGINT < 1288490189
          AND len(toks) > 0),
           chunks AS (
        SELECT doc_id, source, lang, toks,
               unnest(range(0, (len(toks) + 47) // 48)) AS i
        FROM kept)
      SELECT source, lang,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_chunks,
             sum(len(toks[i*48 + 1 : i*48 + 64]))::BIGINT AS total_chunk_tokens
      FROM chunks GROUP BY source, lang""".stripMargin),
    (spark, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      val toksExpr = filter(split(col("text"), " "), x => x =!= "")
      val docs0 = t(spark, dir, "documents")
      // Decontamination inputs (ta_decontaminate's exact gram builder):
      // bench grams broadcast into a semi join that yields the
      // contaminated doc-id set, itself broadcast into an anti join below.
      val benchGrams = CorpusOps.gramFps(docs0.filter(col("doc_id") % 83 === 0))
        .select(col("h")).distinct()
      val contaminated = CorpusOps.gramFps(docs0.filter(col("doc_id") % 83 =!= 0))
        .join(broadcast(benchGrams), Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
      docs0
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id"))
        .filter(col("doc_id") % 83 =!= 0)
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select(Seq(col("doc_id"), col("source"), col("lang"),
          toksExpr.as("tk")) ++ langScoreCols: _*)
        .withColumn("n_tokens", size(col("tk")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("tk"))).cast("long"))
        .filter(qualityCol >= 0.35 && langPredCol === col("lang"))
        .filter(graft.functions.Md5Lanes(col("doc_id").cast("string"), 7, 1)
          .getItem(0) < lit(1288490189L))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("source"), col("lang"), col("tk"),
          explode(expr("sequence(0L, (size(tk) + 47) div 48 - 1)")).as("i"))
        .select(col("doc_id"), col("source"), col("lang"),
          size(expr("slice(tk, cast(i*48 + 1 as int), 64)")).cast("long")
            .as("chunk_tokens"))
        .groupBy(col("source"), col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).cast("long").as("total_chunk_tokens"))
    })

  val sampleExactK = Q(
    "pipeline_sample_exact_k",
    "Exact-size stratified sampling — the companion to the Bernoulli " +
      "sampler for when the budget is a hard count, not a rate: exactly " +
      "k=5 docs per source, selected by ranking each stratum on the " +
      "seed-9 md5 digest of the doc id (a deterministic uniform " +
      "permutation — reproducible across runs, engines, partitionings; " +
      "doc_id tie-break for digest collisions). One shuffle by source; " +
      "the rank<=k predicate compiles to WindowGroupLimit, so each " +
      "partition retains only its top-k rows during the sort instead of " +
      "fully sorting every stratum — the 100 TB-safe form of per-group " +
      "sampling (per-stratum state is k rows, not the stratum).",
    Some("""
      SELECT source, doc_id, rk
      FROM (SELECT source, doc_id,
                   row_number() OVER (
                     PARTITION BY source
                     ORDER BY md5('9:' || doc_id), doc_id) AS rk
            FROM documents)
      WHERE rk <= 5""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(concat(lit("9:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("h"), col("doc_id"))).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("doc_id"), col("rk")))

  val sampleWeighted = Q(
    "pipeline_sample_weighted",
    "WEIGHTED sampling without replacement (Efraimidis–Spirakis 2006, " +
      "the A-ES exponential-clocks form): each doc draws an exponential " +
      "arrival e = -ln(u)/w with rate equal to its TOKEN WEIGHT, and " +
      "the k=50 earliest arrivals are the sample — the distributed " +
      "formulation of token-proportional document sampling (a doc with " +
      "2x the tokens is ~2x as likely to be drawn; uniform sampling " +
      "would starve long documents of their token share). u is the " +
      "seed-11 md5 lane of the doc id, shifted by +0.5/2^32 so it is " +
      "strictly inside (0,1) — deterministic across runs, engines and " +
      "partitionings, like every sampler here. The key rounds to 6 " +
      "decimals with a doc_id tie-break (the repo top-k rule), and the " +
      "global bottom-k compiles to TakeOrdered — per-partition k-row " +
      "heaps, no global sort, no global window. One scan, no shuffle " +
      "beyond the k-row gather.",
    Some("""
      WITH d AS (SELECT doc_id, source,
                        greatest(len(list_filter(string_split(text, ' '),
                          x -> x <> '')), 1)::BIGINT AS n_tokens
                 FROM documents),
           k AS (SELECT doc_id, source, n_tokens,
                        round(-ln((('0x' || substr(md5('11:' || doc_id), 1, 8))::BIGINT
                          + 0.5) / 4294967296.0) / n_tokens + 1e-9, 6) AS e6
                 FROM d)
      SELECT doc_id, source, n_tokens, e6
      FROM k ORDER BY e6, doc_id LIMIT 50""".stripMargin),
    (spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          greatest(size(filter(split(col("text"), " "), x => x =!= "")),
            lit(1)).cast("long").as("n_tokens"))
        .withColumn("u",
          (graft.functions.Md5Lanes(col("doc_id").cast("string"), 11, 1)
            .getItem(0) + lit(0.5)) / lit(4294967296.0))
        .withColumn("e6", round(-log(col("u")) / col("n_tokens")
          + lit(1e-9), 6))
        .orderBy(col("e6"), col("doc_id")).limit(50)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("e6")))

  val packSequences = Q(
    "pipeline_pack_sequences",
    "Sequence PACKING — the concat-and-chunk step every pretraining data " +
      "loader runs after tokenization (GPT-style: concatenate docs in a " +
      "deterministic order, cut into fixed 512-token training " +
      "sequences; only the final sequence of each shard pads): docs are " +
      "laid out per SOURCE shard in doc_id order, each doc's start " +
      "offset is a running token sum (a window partitioned by source — " +
      "the shard is the packing unit, so the cumsum never needs a " +
      "global ordering and parallelizes across shards at any corpus " +
      "size), and the census reports per shard the sequence count, " +
      "padding waste, and how many docs straddle a sequence boundary " +
      "(the attention-fragmentation number packing papers report). All " +
      "integer arithmetic — offsets, integer division, exact BIGINTs; " +
      "the oracle mirrors with SQL window cumsum and // division.",
    Some("""
      WITH d AS (SELECT source, doc_id,
                        len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n
                 FROM documents),
           o AS (SELECT source, doc_id, n,
                        coalesce(sum(n) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)::BIGINT AS off
                 FROM d)
      SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
             ((sum(n) + 511) // 512)::BIGINT AS n_sequences,
             (((sum(n) + 511) // 512) * 512 - sum(n))::BIGINT AS pad_tokens,
             sum(CASE WHEN n > 0 AND (off // 512) <> ((off + n - 1) // 512)
                      THEN 1 ELSE 0 END)::BIGINT AS n_boundary_docs
      FROM o GROUP BY source""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      // Shard-local running offset: the window partitions by source, so
      // packing is embarrassingly parallel across shards — no global sort.
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(spark, dir, "documents")
        .select(col("source"), col("doc_id"), size(toks).cast("long").as("n"))
        .withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("crosses",
          col("n") > 0 &&
            expr("off div 512") =!= expr("(off + n - 1) div 512"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          expr("(sum(n) + 511) div 512").cast("long").as("n_sequences"),
          (expr("(sum(n) + 511) div 512") * 512 - sum(col("n")))
            .cast("long").as("pad_tokens"),
          sum(when(col("crosses"), 1L).otherwise(0L)).cast("long")
            .as("n_boundary_docs"))
    })

  val unigramLogprob = Q(
    "ta_unigram_logprob",
    "Unigram cross-entropy per document — the perplexity-proxy quality " +
      "filter (CCNet/Wenzek et al. 2020 filter on LM perplexity; the " +
      "unigram LM is its shuffle-only analog): per doc, the mean " +
      "negative log-probability of its tokens under the corpus unigram " +
      "distribution, plus its exp (the perplexity). Boilerplate and " +
      "degenerate repetition score LOW (common tokens), rare-gibberish " +
      "scores HIGH — the two tails a pipeline trims. ONE token-explosion " +
      "pass builds (doc, word) counts; the corpus distribution derives " +
      "from that frame (no second scan), joins back by word — at 100 TB " +
      "a genuine shuffle join, the vocabulary is not broadcastable — and " +
      "the corpus total joins as a broadcast 1-row aggregate. ln is libm " +
      "on both engines: identical inputs, sub-ulp noise absorbed by the " +
      "epsilon-shifted rounding.",
    Some("""
      WITH w AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents),
           tf AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
           freq AS (SELECT word, sum(c)::BIGINT AS cnt FROM tf GROUP BY word),
           tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM freq),
           x AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                        -sum(c * (ln(1.0 * cnt) - ln(1.0 * n_total))) AS nll
                 FROM tf JOIN freq ON freq.word = tf.word, tot
                 GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             round(nll / n_tokens + 1e-8, 4) AS xent,
             round(exp(nll / n_tokens) + 1e-6, 2) AS ppl
      FROM x""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c")))
      val freq = tf.groupBy(col("word"))
        .agg(sum(col("c")).cast("long").as("cnt"))
      val tot = freq.agg(sum(col("cnt")).cast("long").as("n_total"))
      tf.join(freq, "word")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          (-sum(col("c") * (log(col("cnt").cast("double")) -
            log(col("n_total").cast("double"))))).as("nll"))
        .select(col("doc_id"), col("n_tokens"),
          Det.r4e(col("nll") / col("n_tokens")).as("xent"),
          Det.r2e(exp(col("nll") / col("n_tokens"))).as("ppl"))
    })

  /** The BPE round primitive shared by [[bpeFit]] (learns the merge table)
    * and [[bpeApply]] (tokenizes with it): most frequent adjacent symbol
    * pair of a (s, c) word-frequency frame — count desc, pair asc, a total
    * order. Single definition, no drift.
    */
  /** Adjacent-pair counts (pair, cnt) of a (s, c) symbol frame, weighted
    * by word count — the frame [[topPair]] ranks and the incremental
    * loop maintains.
    */
  private def pairCounts(sdf: org.apache.spark.sql.DataFrame) = sdf
    .select(col("c"), split(col("s"), " ").as("a"))
    .filter(size(col("a")) >= 2)
    .select(col("c"), explode(expr(
      "transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i+1]))"))
      .as("pair"))
    .groupBy(col("pair")).agg(sum(col("c")).cast("long").as("cnt"))

  /** Winner of a (pair, cnt) frame: count desc, pair asc (Spark string
    * order is UTF8String binary — the same UTF-8 byte collation as
    * [[utf8Lt]] and DuckDB).
    */
  private def topPair(pc: org.apache.spark.sql.DataFrame) = pc
    .orderBy(col("cnt").desc, col("pair")).limit(1)
    .select(col("pair"), expr("replace(pair, ' ', '')").as("merged"),
      col("cnt"))

  private def topMerge(sdf: org.apache.spark.sql.DataFrame) =
    topPair(pairCounts(sdf))

  /** [[topMerge]]'s winning row, or a NAMED error on merge starvation
    * (the pair frame emptied before round `k`: every vocabulary word is
    * already a single symbol). A bare `first()` would throw an anonymous
    * NoSuchElementException; degrading to fewer merges is not an option
    * either — the generated oracle chain runs exactly [[BpeMerges]]
    * rounds, so the round counts must match or the hash compare fails.
    */
  private def topMergeAt(sdf: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.Row =
    sdf.take(1).headOption.getOrElse(throw new IllegalStateException(
      s"BPE merge starvation at round $k/$BpeMerges: no adjacent symbol " +
        "pair remains in the vocabulary — lower BpeMerges or widen the " +
        "corpus"))

  /** Merge rounds [[bpeFit]] trains (and [[bpeApply]] applies). Bounded
    * by the corpus: a merge exists while any vocabulary word has >= 2
    * symbols, and this vocabulary supports ~107 merges (sum of word
    * lengths minus word count), so 64 rounds never starve. The loop is
    * driver-bounded (the dedup_components pattern) with per-round
    * lineage cuts — NOT a convergence test, so Spark and the generated
    * oracle chain run the exact same round count.
    */
  private[graft] val BpeMerges = 64

  /** Rounds per lineage cut of the BPE loops' symbol frame. History of
    * the measurement (sf0.1, min-of-3): under the round-8 structure
    * (crossJoin-broadcast merges, every round checkpointing BOTH the
    * 1-row merge and the symbol frame = 2 jobs/round) stride 1 beat
    * stride 4 (6.5 s vs 7.2 s) because a lazy round's topMerge nested
    * the previous TakeOrdered subtrees. Round 9 removed that term: the
    * winning merge is driver-COLLECTED (one deliberately tiny row) and
    * embedded as literals, so a lazy round re-executes only stride−1
    * vocabulary-sized string rewrites inside its own job — now the
    * checkpoint is pure overhead at small strides and the stride factor
    * divides the loop's job count. Measured at 8 (see history/PLANS.md BPE
    * round-latency table); the loop is driver-latency-bound, so jobs
    * saved convert ~1:1 into wall clock.
    */
  private[graft] val BpeLineageStride = 8

  /** Vocabulary-size bound under which the merge ROUNDS run on the
    * driver (`spark.graft.bpe.localVocabMax`, default 65536 distinct
    * words): the shape every production tokenizer trainer uses —
    * distributed word COUNT (the only corpus-scale stage), then local
    * merge rounds over the collected (symbols, count) table. The
    * round-10 attribution found the loop driver-LATENCY-bound: 64
    * sequential vocabulary-sized jobs cost ~70 ms each in launches
    * alone while the actual data is a few thousand rows, so the local
    * path converts 64 + 64/stride job launches into microseconds of
    * driver arithmetic. Past the bound the distributed loop below runs
    * unchanged (a 100 TB corpus with an unbounded vocabulary still
    * trains on-cluster), and BpeLocalSpec pins the two paths
    * merge-for-merge and symbol-for-symbol equal.
    */
  private def bpeLocalVocabMax(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.bpe.localVocabMax", "65536").toLong

  /** UTF-8 byte order (unsigned) — the tie-break collation BOTH engines
    * rank `pair` with (Spark UTF8String, DuckDB binary collation); JVM
    * String.compareTo is UTF-16 and diverges above the BMP.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local BPE merge rounds — semantics IDENTICAL to the
    * distributed loop, op for op: pair counts weighted by `c`, winner by
    * (count desc, pair asc in UTF-8 byte order), the boundary-sentinel
    * merge with left-to-right non-overlapping replace (String.replace
    * and UTF8String/DuckDB replace all share that contract), starvation
    * the same NAMED error. Returns the learned table and the final
    * symbol strings aligned with `entries` (the fit never applies its
    * last merge; the apply must — same `applyLast` contract as the
    * oracle chain).
    */
  private[graft] def localBpeRounds(entries: Array[(String, Long)],
      rounds: Int, applyLast: Boolean)
      : (Seq[(Long, String, String, Long)], Array[String]) = {
    var cur = entries.map(_._1)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (k <- 1 to rounds) {
      val counts = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < cur.length) {
        val a = cur(i).split(" ")
        val c = entries(i)._2
        var j = 0
        while (j < a.length - 1) {
          counts.merge(a(j) + " " + a(j + 1), c, (x, y) => x + y)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) throw new IllegalStateException(
        s"BPE merge starvation at round $k/$rounds: no adjacent symbol " +
          "pair remains in the vocabulary — lower BpeMerges or widen the " +
          "corpus")
      var bestPair: String = null
      var bestCnt = Long.MinValue
      counts.forEach { (p, c) =>
        if (c > bestCnt || (c == bestCnt && utf8Lt(p, bestPair)))
          { bestPair = p; bestCnt = c }
      }
      val merged = bestPair.replace(" ", "")
      learned += ((k.toLong, bestPair, merged, bestCnt))
      if (k < rounds || applyLast) {
        val hit = " " + bestPair.replace(" ", "  ") + " "
        val rep = " " + merged + " "
        cur = cur.map { s =>
          (" " + s.replace(" ", "  ") + " ").replace(hit, rep)
            .split(" ").filter(_.nonEmpty).mkString(" ")
        }
      }
    }
    (learned.toSeq, cur)
  }

  /** Incremental pair-count maintenance for the DISTRIBUTED merge loop
    * (VERDICT r11 #8): after merging pair P, only words CONTAINING P
    * change their adjacent-pair multiset, so each round can recount the
    * DELTA over exactly those words instead of re-exploding every
    * adjacent pair in the whole vocabulary. The strategy is a TRADE,
    * measured (g1 probe, forced distributed, equal ambient per the
    * in-artifact calibration — 9.2 vs 9.6 s yardstick): at small
    * vocabularies the delta loop LOSES (11.4 vs 9.9 s min-of-3) because
    * it adds one materialize job per round and re-shuffles the distinct-
    * pair frame, while the full recount's explode is trivial at that
    * scale — the loop is job-launch-bound, exactly the round-10 BPE
    * attribution. The delta wins where the recount's per-round explode
    * is the cost — measured at a 2M-distinct-word corpus (a synthetic
    * documents table of base-36 words, 200 per doc, ~10M adjacent-pair
    * occurrences per recount; same-session pairs under comparable
    * calibration 8.5-11.1 s; history/PLANS.md, round 12): full
    * recount 243.5 s, delta 139.8 s with union+re-aggregate counts
    * merging, 128.2 s with the FULL-OUTER JOIN merge below (the counts
    * frame keeps its hash partitioning across the per-round checkpoint,
    * so only the aggregated delta crosses an exchange) — 1.9x over the
    * recount, widening with vocabulary since late-round deltas shrink
    * toward single words while the recount stays vocabulary-sized every
    * round. The round-13 sweep closed ADVICE r12's unmeasured band by
    * walking the gate's whole domain (history/probe_bpe_gate_r13.json;
    * paired runs under comparable in-artifact calibration, this box): delta wins
    * 1.73x at 96k vocab (116.4 vs 67.4 s), 1.95x at 256k (179.0 vs
    * 91.7), 2.03x at 1M (217.7 vs 107.1), 1.9x at 2M (r12) — i.e. the
    * delta wins EVERYWHERE the distributed loop runs at all (the only
    * measured loss, g1's tiny vocab, was a forced-distributed regime
    * `auto` never enters: below `localVocabMax` the rounds are driver
    * arithmetic). Hence `auto` (default) engages the delta at
    * `spark.graft.bpe.deltaMinVocab` distinct words, DEFAULTED TO THE
    * `localVocabMax` boundary — delta whenever distributed;
    * `true`/`false` force the strategy for the BpeLocalSpec
    * differential, which pins the two loops merge-for-merge equal.
    */
  private def bpeUseDelta(spark: org.apache.spark.sql.SparkSession,
      vocabCount: Long): Boolean =
    spark.conf.get("spark.graft.bpe.deltaPairCounts", "auto") match {
      case "true"  => true
      case "false" => false
      case _ => vocabCount >= spark.conf
        .get("spark.graft.bpe.deltaMinVocab",
          bpeLocalVocabMax(spark).toString).toLong
    }

  /** Distributed BPE merge rounds with INCREMENTAL pair counts over an
    * (s, c, ...) frame (extra columns — bpe_apply's `word` — ride along
    * untouched). The maintained state is the (pair, cnt) frame itself:
    * per round, (1) the winner is the top-1 of the MATERIALIZED pair
    * counts — a scan of distinct pairs, not a re-explode of every
    * adjacent symbol occurrence; (2) the delta is ONE pass over only the
    * words whose boundary-sentinel form contains the winning pair (old
    * pairs at −c, new pairs at +c, summed into the counts and zero rows
    * dropped); (3) the symbol frame rewrites lazily with the usual
    * lineage stride. Late rounds merge rare pairs, so the touched set —
    * and with it the per-round shuffle — shrinks toward a handful of
    * words while the full recount would keep re-shuffling the entire
    * vocabulary's pair explosion every round: at 100 TB-derived
    * vocabularies (the regime past `spark.graft.bpe.localVocabMax`,
    * where these rounds run on-cluster) that asymmetry is the round
    * cost. Semantics are bit-identical to the full recount: the pair
    * multiset delta is exact (non-overlapping replace included, since
    * old and new symbol arrays are compared per word), the winner's
    * total order (cnt desc, pair asc in UTF-8 byte order) is the same
    * Spark sort, and starvation surfaces as the same NAMED error when
    * the counts frame empties.
    */
  private def distBpeRoundsDelta(s0: org.apache.spark.sql.DataFrame,
      rounds: Int, applyLast: Boolean)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    var s = s0
    var pc = Q.materializeLoop(pairCounts(s0.select(col("s"), col("c"))))
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (k <- 1 to rounds) {
      val m = topMergeAt(topPair(pc), k)
      val (pair, merged) = (m.getString(0), m.getString(1))
      learned += ((k.toLong, pair, merged, m.getLong(2)))
      if (k < rounds || applyLast) {
        val hit = " " + pair.replace(" ", "  ") + " "
        val spaced =
          concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" "))
        val rewritten = mergeOnceCol(col("s"), pair, merged)
        // One aggregate over ONLY the touched words: each contributes its
        // old adjacent pairs at -c and its post-merge pairs at +c. The
        // size >= 2 guards keep sequence(0, -1) (descending in Spark) out
        // of the transform on single-symbol words.
        val delta = s.filter(spaced.contains(hit))
          .select(col("c"), split(col("s"), " ").as("oa"),
            split(rewritten, " ").as("na"))
          .select(explode(concat(
            expr("if(size(oa) >= 2, transform(sequence(0, size(oa) - 2), " +
              "i -> named_struct('pair', concat(oa[i], ' ', oa[i+1]), " +
              "'d', -c)), " +
              "array())"),
            expr("if(size(na) >= 2, transform(sequence(0, size(na) - 2), " +
              "i -> named_struct('pair', concat(na[i], ' ', na[i+1]), " +
              "'d', c)), " +
              "array())"))).as("x"))
          .select(col("x.pair").as("pair"), col("x.d").as("d"))
        // Deltas merge into the counts by FULL-OUTER JOIN, not by
        // union+re-aggregate: the checkpointed counts frame keeps its
        // hash partitioning on `pair` across rounds (localCheckpoint
        // preserves outputPartitioning), so only the aggregated DELTA
        // moves through an exchange each round — re-aggregating the
        // union would reshuffle the entire distinct-pair frame every
        // round and hand back most of what the incremental recount
        // saved. Re-materialized every round: the next round's top-1
        // collect executes it anyway, and without the cut the lineage
        // would chain all prior deltas. Zero rows drop so a fully-merged
        // pair can never win a tie at cnt = 0.
        val dAgg = delta
          .groupBy(col("pair")).agg(sum(col("d")).cast("long").as("d"))
        pc = Q.materializeLoop(
          pc.join(dAgg, Seq("pair"), "full_outer")
            .select(col("pair"),
              (coalesce(col("cnt"), lit(0L)) +
                coalesce(col("d"), lit(0L))).as("cnt"))
            .filter(col("cnt") > 0))
        val next = s.withColumn("s", rewritten)
        s = if (k % BpeLineageStride == 0 || (applyLast && k == rounds))
          Q.materializeLoop(next)
        else next
      }
    }
    (learned.toSeq, s)
  }

  /** One BPE merge applied to a space-joined symbol string, in the
    * boundary-sentinel form that is exact for EVERY round: symbols are
    * double-space separated and flanked, the pair is matched with its
    * own flanking spaces (so a pair containing a multi-char symbol can
    * never false-match across a symbol boundary — 'h e' inside 'th e'),
    * and left-to-right non-overlapping replace IS the textbook BPE
    * merge order ('a a a' merges once); the result re-canonicalizes to
    * single-space form so rounds compose. The winning pair arrives as
    * LITERALS (the driver-collected 1-row merge) in Column form — same
    * semantics as [[mergeOnceDuck]], the oracle's generated dialect.
    */
  private def mergeOnceCol(s: org.apache.spark.sql.Column, pair: String,
      merged: String): org.apache.spark.sql.Column = {
    val spaced = concat(lit(" "), replace(s, lit(" "), lit("  ")), lit(" "))
    val hit = lit(" " + pair.replace(" ", "  ") + " ")
    array_join(filter(split(replace(spaced, hit,
      lit(" " + merged + " ")), " "), x => x =!= ""), " ")
  }

  /** Same merge step in DuckDB's dialect — generated, not hand-unrolled,
    * for each CTE round of the oracle chain.
    */
  private def mergeOnceDuck(s: String, m: String): String =
    s"array_to_string(list_filter(string_split(" +
      s"replace(' ' || replace($s, ' ', '  ') || ' ', " +
      s"' ' || replace($m.pair, ' ', '  ') || ' ', " +
      s"' ' || $m.merged || ' '), ' '), x -> x <> ''), ' ')"

  /** The shared WITH-chain of the BPE oracles: s0 (single-char symbol
    * strings of the word vocabulary, with word and corpus count carried
    * through every round) and per-round pair-count/top-merge/apply CTEs
    * p1,m1,s1 … up to `rounds` merges (sK exists for K < rounds plus,
    * when `applyLast`, the final round — the fit never applies its last
    * learned merge; the apply must).
    */
  private def bpeChainDuck(rounds: Int, applyLast: Boolean): String = {
    // AS MATERIALIZED is load-bearing: every sK is referenced twice
    // (p(K+1) and s(K+1)); DuckDB inlines plain CTEs per reference, so a
    // 64-round chain would expand 2^64 subplans and die on file handles
    // before memory.
    val sb = new StringBuilder
    sb ++= s"""
      WITH w AS MATERIALIZED (SELECT word, count(*) AS c
                 FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                       FROM documents)
                 GROUP BY word),
           s0 AS MATERIALIZED (SELECT word, c, array_to_string(list_transform(range(1, length(word) + 1),
                            i -> substr(word, i::INT, 1)), ' ') AS s
                  FROM w)"""
    for (k <- 1 to rounds) {
      sb ++= s""",
           p$k AS MATERIALIZED (SELECT a[i+1] || ' ' || a[i+2] AS pair, sum(c)::BIGINT AS cnt
                  FROM (SELECT string_split(s, ' ') AS a, c,
                               unnest(range(0, len(string_split(s, ' ')) - 1)) AS i
                        FROM s${k - 1})
                  GROUP BY pair),
           m$k AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged, cnt
                  FROM p$k ORDER BY cnt DESC, pair LIMIT 1)"""
      if (k < rounds || applyLast) sb ++= s""",
           s$k AS MATERIALIZED (SELECT word, c, ${mergeOnceDuck("s", s"m$k")} AS s
                  FROM s${k - 1}, m$k)"""
    }
    sb.toString
  }

  val bpeFit = Q(
    "pipeline_bpe_fit",
    s"BPE tokenizer TRAINING on-cluster to a real vocabulary — $BpeMerges " +
      "merge rounds of Sennrich et al. 2016 (ta_bpe_tokens APPLIES a " +
      "tokenizer; this learns one): per round, count adjacent symbol " +
      "pairs over the word-frequency table (weighted by word count — the " +
      "corpus scans ONCE into that table, each round is vocabulary-sized " +
      "work, not corpus-sized: the property that makes distributed BPE " +
      "training feasible), take the most frequent pair (count desc, pair " +
      "asc — total order, engine-independent), apply the merge in the " +
      "boundary-sentinel string form that is exact at EVERY depth (a " +
      "pair containing a multi-char symbol can never false-match across " +
      "a symbol boundary; left-to-right non-overlap is the textbook " +
      "merge order), recount. The loop is driver-bounded with per-round " +
      "lineage cuts (the dedup_components pattern); the 1-row winning " +
      "merge broadcasts into each re-write — the bounded cross this " +
      "family always uses. Output: the learned merge table — rank, " +
      "pair, merged symbol, pair count. The oracle's CTE chain is " +
      "GENERATED for the same round count, never hand-unrolled.",
    Some(bpeChainDuck(BpeMerges, applyLast = false) +
      (1 to BpeMerges).map(k =>
        s"\n      SELECT $k::BIGINT AS rank, pair, merged, cnt FROM m$k")
        .mkString("", "\n      UNION ALL", "")),
    (spark, dir) => {
      import spark.implicits._
      val toks = filter(split(col("text"), " "), x => x =!= "")
      // Vocabulary size observed during the materialization job (round
      // 14, Q.materializeCounted — was a separate count() over the
      // just-cached frame).
      val (s0, nVocab) = Q.materializeCounted(
        t(spark, dir, "documents")
          .select(explode(toks).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).cast("long").as("c"))
          .select(array_join(split(col("word"), ""), " ").as("s"), col("c")))
      // Small-vocab fast path: the corpus-scale word count above is done;
      // when the distinct vocabulary fits the bound, the 64 merge rounds
      // are driver arithmetic, not 64 sequential Spark jobs.
      var s = s0
      if (nVocab <= bpeLocalVocabMax(spark)) {
        val entries = s.collect().map(r => (r.getString(0), r.getLong(1)))
        localBpeRounds(entries, BpeMerges, applyLast = false)._1
          .toDF("rank", "pair", "merged", "cnt")
      } else if (bpeUseDelta(spark, nVocab)) {
        // On-cluster rounds with incremental pair counts: each round
        // recounts only the words the previous merge touched.
        distBpeRoundsDelta(s, BpeMerges, applyLast = false)._1
          .toDF("rank", "pair", "merged", "cnt")
      } else {
      val learned = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      for (k <- 1 to BpeMerges) {
        // The winning merge COLLECTS to the driver — one deliberately
        // tiny row per round, the same driver-bounded posture as the
        // ≤1001-key merge probe. Embedding it as LITERALS (round 9)
        // removes both the 1-row checkpoint job and the crossJoin
        // broadcast from every later round: the loop's real cost at
        // vocabulary scale is sequential job launches, and this halves
        // them (64 first() + 64/stride checkpoints, was 2 jobs/round).
        val m = topMergeAt(topMerge(s), k)
        val (pair, merged) = (m.getString(0), m.getString(1))
        learned += ((k.toLong, pair, merged, m.getLong(2)))
        if (k < BpeMerges) {
          val next = s.select(mergeOnceCol(col("s"), pair, merged).as("s"),
            col("c"))
          // Lineage cut every BpeLineageStride rounds: a lazy round's
          // topMerge re-executes at most stride−1 literal rewrites on
          // the vocabulary-sized frame inside its own job — cheaper
          // than a checkpoint job each round now that no TakeOrdered
          // subtree can nest (merges are literals).
          s = if (k % BpeLineageStride == 0) Q.materializeLoop(next)
              else next
        }
      }
      learned.toSeq.toDF("rank", "pair", "merged", "cnt")
      }
    })

  val bpeApply = Q(
    "pipeline_bpe_apply",
    s"BPE tokenizer APPLICATION — closes the train→apply loop at the " +
      s"full $BpeMerges-merge vocabulary (pipeline_bpe_fit learns the " +
      "merge table; this tokenizes the corpus with it and reports the " +
      "per-doc true token budget, the number every 'how many tokens is " +
      "this corpus' estimate is approximating): the merges are " +
      "re-learned from the same word-frequency table (identical total " +
      "order — BpeApplySpec pins them equal to bpe_fit's), then applied " +
      "per VOCABULARY WORD, not per corpus token: symbol counts join " +
      "back to the (doc, word, count) frame by word — the vocabulary-" +
      "sized-work property that makes corpus-scale tokenization one " +
      "shuffle join, never a per-token loop. Every round applies in the " +
      "boundary-sentinel string form (' x  y ' with flanking spaces) — " +
      "a naive replace would false-match a pair across a symbol " +
      "boundary (pair 'h e' inside 'th e') and silently over-merge; " +
      "left-to-right non-overlap semantics are identical in both " +
      "engines and match true BPE (the 'a a a' case merges once). " +
      "Output per doc: whitespace tokens, chars-in-words (symbols " +
      "before merging), and BPE symbols after all merges — exact " +
      "BIGINTs. Oracle CTE chain generated alongside bpe_fit's.",
    Some(bpeChainDuck(BpeMerges, applyLast = true) + s""",
           tf0 AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                 FROM documents),
           tf AS (SELECT doc_id, word, count(*)::BIGINT AS c
                  FROM tf0 GROUP BY doc_id, word),
           syms AS (SELECT word, length(word)::BIGINT AS n_chr,
                           len(list_filter(string_split(s, ' '),
                             x -> x <> ''))::BIGINT AS n_sym
                    FROM s$BpeMerges)
      SELECT tf.doc_id, sum(c)::BIGINT AS n_tokens,
             sum(c * n_chr)::BIGINT AS n_chars,
             sum(c * n_sym)::BIGINT AS n_bpe_symbols
      FROM tf JOIN syms ON syms.word = tf.word
      GROUP BY tf.doc_id"""),
    (spark, dir) => {
      import spark.implicits._
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).cast("long").as("c")))
      // Vocabulary size observed during the materialization job (round
      // 14, Q.materializeCounted — same fusion as bpe_fit).
      val (vocab, nVocab) = Q.materializeCounted(tf
        .groupBy(col("word")).agg(sum(col("c")).cast("long").as("c"))
        .withColumn("s", array_join(split(col("word"), ""), " ")))
      val syms = if (nVocab <= bpeLocalVocabMax(spark)) {
        // Small-vocab fast path (same gate as bpe_fit): merges re-learn
        // and apply on the driver; only the vocab-row symbol table goes
        // back out, broadcast into the corpus-scale join below.
        val rows = vocab.select(col("word"), col("s"), col("c")).collect()
        val fin = localBpeRounds(
          rows.map(r => (r.getString(1), r.getLong(2))), BpeMerges,
          applyLast = true)._2
        broadcast(rows.zip(fin).toSeq.map { case (r, f) =>
          val w = r.getString(0)
          (w, w.codePointCount(0, w.length).toLong,
            f.split(" ").count(_.nonEmpty).toLong)
        }.toDF("word", "n_chr", "n_sym"))
      } else if (bpeUseDelta(spark, nVocab)) {
        // On-cluster rounds with incremental pair counts (the `word`
        // column rides through the rewrite untouched).
        distBpeRoundsDelta(vocab, BpeMerges, applyLast = true)._2
          .select(col("word"), length(col("word")).cast("long").as("n_chr"),
            size(filter(split(col("s"), " "), x => x =!= ""))
              .cast("long").as("n_sym"))
      } else {
        var s = vocab
        for (k <- 1 to BpeMerges) {
          // Same shape as bpe_fit: the winning merge driver-collects (one
          // tiny row) and applies as literals; the symbol frame strides.
          val m = topMergeAt(topMerge(s.select(col("s"), col("c"))), k)
          val next = s.select(col("word"),
            mergeOnceCol(col("s"), m.getString(0), m.getString(1)).as("s"),
            col("c"))
          s = if (k % BpeLineageStride == 0 || k == BpeMerges)
            Q.materializeLoop(next) else next
        }
        s.select(col("word"), length(col("word")).cast("long").as("n_chr"),
          size(filter(split(col("s"), " "), x => x =!= ""))
            .cast("long").as("n_sym"))
      }
      tf.join(syms, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          sum(col("c") * col("n_chr")).cast("long").as("n_chars"),
          sum(col("c") * col("n_sym")).cast("long").as("n_bpe_symbols"))
    })

  val zipfFit = Q(
    "ta_zipf_fit",
    "Zipf-law fit over the vocabulary head — the corpus-statistics " +
      "diagnostic (a natural corpus fits ln(freq) ≈ a + s·ln(rank) with " +
      "s ≈ −1; synthetic or degenerate corpora deviate — this corpus's " +
      "near-uniform vocabulary yields a shallow slope, which is " +
      "precisely the signal): least-squares slope/intercept/R² via the " +
      "SQL regr_* aggregate family over (ln rank, ln count). The fit is " +
      "restricted to the top-1000 words by TakeOrderedAndProject — " +
      "bounded head-of-distribution work (where Zipf holds anyway), " +
      "never a vocabulary-wide window — so the only data-scale stage is " +
      "the word count itself. regr_* are algebraic (sum/product " +
      "decompositions): they partial-aggregate like any sum; outputs " +
      "are epsilon-rounded against summation-order noise.",
    Some("""
      WITH f AS (SELECT word, count(*)::BIGINT AS cnt
                 FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                       FROM documents)
                 GROUP BY word),
           top AS (SELECT word, cnt FROM f ORDER BY cnt DESC, word LIMIT 1000),
           r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
                 FROM top)
      SELECT count(*)::BIGINT AS n_words,
             round(regr_slope(ln(1.0 * cnt), ln(1.0 * rk)) + 1e-8, 4) AS zipf_slope,
             round(regr_intercept(ln(1.0 * cnt), ln(1.0 * rk)) + 1e-8, 4) AS zipf_intercept,
             round(regr_r2(ln(1.0 * cnt), ln(1.0 * rk)) + 1e-8, 4) AS r2
      FROM r""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val top = t(spark, dir, "documents")
        .select(explode(toks).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(1000)
      // Global window over the 1000-row GlobalLimit head only — the
      // no-partition WARN is suppressed at session build (see
      // Sessions.quietBoundedWindowWarn); PlanShapeSpec locks the bound.
      top
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("word"))))
        .agg(count(lit(1)).cast("long").as("n_words"),
          Det.r4e(expr("regr_slope(ln(1.0 * cnt), ln(1.0 * rk))"))
            .as("zipf_slope"),
          Det.r4e(expr("regr_intercept(ln(1.0 * cnt), ln(1.0 * rk))"))
            .as("zipf_intercept"),
          Det.r4e(expr("regr_r2(ln(1.0 * cnt), ln(1.0 * rk))")).as("r2"))
    })

  val quarantine = Q(
    "pipeline_quarantine",
    "Reject quarantine census — the dead-letter-queue pattern of a " +
      "production ingestion pipeline: every document is routed to " +
      "exactly one bucket by a FIXED precedence of reject rules " +
      "(too_short: under 50 tokens, the Gopher document-length floor, " +
      "Rae et al. 2021 §A1.1; low_quality: the shared composite score " +
      "under 0.35; lang_mismatch: stopword-argmax prediction disagrees " +
      "with the label; else clean), and the per-(source, reason) census " +
      "with token volumes is what the pipeline operator actually " +
      "watches — WHY data is dropped and from where, not just how much. " +
      "Reuses the exact langid/quality expression builders of " +
      "ta_langid/ta_quality_score/pipeline_corpus_clean (single " +
      "definition, no drift). One pass, one aggregation; the reason " +
      "column is a pure codegen CASE chain.",
    Some(s"""
      WITH d AS (
        SELECT source, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct,
               $LangScoresSql
        FROM documents),
           r AS (SELECT source,
                        CASE WHEN n_tokens < 50 THEN 'too_short'
                             WHEN ($QualitySql) < 0.35 THEN 'low_quality'
                             WHEN ($LangPredSql) <> lang THEN 'lang_mismatch'
                             ELSE 'clean' END AS reason,
                        n_tokens
                 FROM d)
      SELECT source, reason, count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS total_tokens
      FROM r GROUP BY source, reason""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      t(spark, dir, "documents")
        .select(Seq(col("source"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct")) ++
          langScoreCols: _*)
        .withColumn("reason",
          when(col("n_tokens") < 50, "too_short")
            .when(qualityCol < 0.35, "low_quality")
            .when(langPredCol =!= col("lang"), "lang_mismatch")
            .otherwise("clean"))
        .groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
    })

  val datasetCard = Q(
    "pipeline_dataset_card",
    "The dataset-card census a corpus release publishes (the 'data " +
      "composition' table of every LLM report): per (source × lang) cell " +
      "PLUS per-source, per-lang, and corpus-total margins — doc count, " +
      "token total, mean quality score, distinct-text count, and " +
      "exact-dup fraction — in ONE aggregation pass via GROUPING SETS. " +
      "At 100 TB this is the plan that replaces four separate sweeps: " +
      "Expand multiplies rows 4× AFTER the per-doc projection (tokens " +
      "already counted, text already reduced to an md5), so the corpus " +
      "is scanned and tokenized exactly once and only fixed-width rows " +
      "shuffle. avg_quality is epsilon-rounded (Det.r4e); dup_frac is an " +
      "exact integer ratio, unrounded by design.",
    Some(s"""
      WITH d AS (
        SELECT source, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct,
               md5(text) AS fp
        FROM documents)
      SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
             count(*)::BIGINT AS n_docs,
             sum(n_tokens)::BIGINT AS total_tokens,
             round(avg($QualitySql) + 1e-8, 4) AS avg_quality,
             count(DISTINCT fp)::BIGINT AS n_unique_texts,
             (count(*) - count(DISTINCT fp)) / count(*) AS dup_frac
      FROM d
      GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      t(spark, dir, "documents")
        .select(col("source"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          md5(col("text")).as("fp"))
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          Det.r4e(avg(qualityCol)).as("avg_quality"),
          countDistinct(col("fp")).cast("long").as("n_unique_texts"),
          ((count(lit(1)) - countDistinct(col("fp"))) / count(lit(1)))
            .as("dup_frac"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("total_tokens"), col("avg_quality"),
          col("n_unique_texts"), col("dup_frac"))
    })

  /** The shared LR-training CTE chain (features → 2 rounded gradient
    * steps → weights w1/w2) of [[qualityFit]] and [[qualityCalibration]] —
    * single definition, no drift.
    */
  private val QfCtesSql = """f AS (SELECT doc_id,
                        CASE WHEN nw >= 60 THEN 1.0 ELSE 0.0 END AS y,
                        least(nw, 200) / 200.0 AS x1,
                        least(nc, 2000) / 2000.0 AS x2,
                        ndw::DOUBLE / nw AS x3
                 FROM (SELECT doc_id,
                              len(list_filter(string_split(text, ' '), t -> t <> '')) AS nw,
                              length(text) AS nc,
                              len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS ndw
                       FROM documents WHERE length(text) > 0)),
           n AS (SELECT count(*)::BIGINT AS n FROM f),
           g1 AS (SELECT round(sum(0.5 - y) + 1e-9, 6) AS g0,
                         round(sum((0.5 - y) * x1) + 1e-9, 6) AS g1,
                         round(sum((0.5 - y) * x2) + 1e-9, 6) AS g2,
                         round(sum((0.5 - y) * x3) + 1e-9, 6) AS g3
                  FROM f),
           w1 AS (SELECT round(-g0 / n + 1e-9, 6) AS w0, round(-g1 / n + 1e-9, 6) AS w1,
                         round(-g2 / n + 1e-9, 6) AS w2, round(-g3 / n + 1e-9, 6) AS w3
                  FROM g1, n),
           g2s AS (SELECT round(sum(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) + 1e-9, 6) AS g0,
                          round(sum((1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x1) + 1e-9, 6) AS g1,
                          round(sum((1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x2) + 1e-9, 6) AS g2,
                          round(sum((1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x3) + 1e-9, 6) AS g3
                   FROM f, w1),
           w2 AS (SELECT round(w1.w0 - g2s.g0 / n + 1e-9, 6) AS w0,
                         round(w1.w1 - g2s.g1 / n + 1e-9, 6) AS w1,
                         round(w1.w2 - g2s.g2 / n + 1e-9, 6) AS w2,
                         round(w1.w3 - g2s.g3 / n + 1e-9, 6) AS w3
                  FROM w1, g2s, n)"""

  /** LR feature frame (y, x1..x3) plus its observed row count —
    * [[qualityFit]]'s scan, shared. (Round 14: the count used to be a
    * 1-row aggregate crossJoin(broadcast(...))-ed into both weight
    * materialization jobs, each re-scanning the cached frame.)
    */
  private def qfFeatures(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val toks = filter(split(col("text"), " "), x => x =!= "")
    Q.materializeCounted(
      t(spark, dir, "documents").filter(length(col("text")) > 0)
        .select(
          when(size(toks) >= 60, 1.0).otherwise(0.0).as("y"),
          (least(size(toks), lit(200)).cast("double") / 200.0).as("x1"),
          (least(length(col("text")), lit(2000)).cast("double") / 2000.0)
            .as("x2"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("x3")))
  }

  /** z = w·x as the SAME left-associated expression on both engines. */
  private def qfZ: Column = col("w0") + col("w1") * col("x1") +
    col("w2") * col("x2") + col("w3") * col("x3")

  /** Two rounded full-batch gradient steps over a [[qfFeatures]] frame:
    * (w1, w2), both materialized 1-row weight frames.
    */
  private def qfWeights(f: org.apache.spark.sql.DataFrame, n: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    def r6(c: Column) = round(c + lit(1e-9), 6)
    def grads(p: Column) = Seq(
      r6(sum(p - col("y"))).as("g0"),
      r6(sum((p - col("y")) * col("x1"))).as("g1"),
      r6(sum((p - col("y")) * col("x2"))).as("g2"),
      r6(sum((p - col("y")) * col("x3"))).as("g3"))
    // step 1: w = 0, so sigmoid(z) = 0.5 for every row — closed form.
    val g1 = f.agg(grads(lit(0.5)).head, grads(lit(0.5)).tail: _*)
    val w1 = Q.materialize(g1.select(
      r6(-col("g0") / lit(n)).as("w0"), r6(-col("g1") / lit(n)).as("w1"),
      r6(-col("g2") / lit(n)).as("w2"), r6(-col("g3") / lit(n)).as("w3")))
    val p = lit(1.0) / (lit(1.0) + exp(-qfZ))
    val g2 = f.crossJoin(broadcast(w1))
      .agg(grads(p).head, grads(p).tail: _*)
    val w2 = Q.materialize(g2.crossJoin(broadcast(w1.select(
      col("w0").as("pw0"), col("w1").as("pw1"),
      col("w2").as("pw2"), col("w3").as("pw3"))))
      .select(
        r6(col("pw0") - col("g0") / lit(n)).as("w0"),
        r6(col("pw1") - col("g1") / lit(n)).as("w1"),
        r6(col("pw2") - col("g2") / lit(n)).as("w2"),
        r6(col("pw3") - col("g3") / lit(n)).as("w3")))
    (w1, w2)
  }

  val qualityFit = Q(
    "pipeline_quality_fit",
    "Quality-classifier TRAINING on-cluster — two full-batch gradient " +
      "steps of logistic regression distilling a labeling heuristic " +
      "(n_words >= 60) into a cheap linear scorer over engine-exact " +
      "features (clamped word/char counts, distinct-word ratio): the " +
      "fastText-style quality-filter fit every LLM pipeline runs, and " +
      "the repo's first SUPERVISED trainer (BPE learns a vocabulary, " +
      "k-means/PCA are unsupervised). Per step: ONE corpus-scale " +
      "aggregation builds the 4 gradient components (partial-aggregable " +
      "sums — map-side combine, 4 doubles per partition leave), the " +
      "1-row weight update broadcasts back (the bounded cross this " +
      "family always uses), nothing else moves. Cross-row aggregates " +
      "round to 6 decimals on both engines before reuse (the " +
      "sim_power_iteration convention) so FP summation-order noise " +
      "cannot compound across steps; accuracy predicts in z-space " +
      "(margin > 1e-9, no sigmoid at the decision boundary). Step 1 " +
      "closes sigmoid(0) = 0.5 analytically. Output: weights + training " +
      "accuracy per step. At 100 TB each step is one scan + one 4-value " +
      "reduce — the property that makes full-batch distillation " +
      "feasible.",
    Some(s"""
      WITH $QfCtesSql,
           a1 AS (SELECT round(avg(CASE WHEN (CASE WHEN w0 + w1*x1 + w2*x2 + w3*x3 > 1e-9
                                               THEN 1.0 ELSE 0.0 END) = y
                                   THEN 1.0 ELSE 0.0 END) + 1e-9, 4) AS accuracy
                  FROM f, w1),
           a2 AS (SELECT round(avg(CASE WHEN (CASE WHEN w0 + w1*x1 + w2*x2 + w3*x3 > 1e-9
                                               THEN 1.0 ELSE 0.0 END) = y
                                   THEN 1.0 ELSE 0.0 END) + 1e-9, 4) AS accuracy
                  FROM f, w2)
      SELECT 1::BIGINT AS iter, w0, w1, w2, w3, accuracy FROM w1, a1
      UNION ALL
      SELECT 2::BIGINT, w0, w1, w2, w3, accuracy FROM w2, a2""".stripMargin),
    (spark, dir) => {
      val (f, n) = qfFeatures(spark, dir)
      val (w1, w2) = qfWeights(f, n)
      def accOf(w: org.apache.spark.sql.DataFrame) = {
        val pred = when(qfZ > 1e-9, 1.0).otherwise(0.0)
        f.crossJoin(broadcast(w))
          .agg(round(avg(when(pred === col("y"), 1.0).otherwise(0.0))
            + lit(1e-9), 4).as("accuracy"))
      }
      def row(iter: Int, w: org.apache.spark.sql.DataFrame) =
        w.crossJoin(accOf(w))
          .select(lit(iter.toLong).as("iter"), col("w0"), col("w1"),
            col("w2"), col("w3"), col("accuracy"))
      row(1, w1).union(row(2, w2))
    })

  val qualityCalibration = Q(
    "pipeline_quality_calibration",
    "Classifier CALIBRATION on-cluster — the evaluation a pipeline runs " +
      "before trusting a trained filter (the reliability diagram: does " +
      "predicted probability 0.8 actually mean 80% positive?): score " +
      "every doc with the step-2 weights of pipeline_quality_fit's LR " +
      "(IDENTICAL shared training builders — single definition, no " +
      "drift), bucket the predicted probability into 100 fixed equal-width " +
      "bins (finer than the classic 10 because a 2-step model's " +
      "probabilities concentrate near 0.5; only OCCUPIED bins emit, so " +
      "the census stays <= 100 rows), and " +
      "report per bin the doc count, mean predicted probability, and " +
      "observed positive fraction. A well-calibrated bin has mean_pred " +
      "≈ frac_pos; the gap IS the calibration error (ECE's per-bin " +
      "term). Plan: the training scans (one per gradient step) plus ONE " +
      "more pass — the 1-row weight frame broadcasts back, the binned " +
      "aggregation partial-aggregates map-side; ≤10 rows leave. The " +
      "sigmoid over bit-identical doubles is libm-identical, and the " +
      "bin edge uses the shared epsilon shift, so bin MEMBERSHIP is " +
      "engine-exact.",
    Some(s"""
      WITH $QfCtesSql,
           scored AS (
             SELECT y, 1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) AS p
             FROM f, w2),
           b AS (SELECT least(99, floor(p * 100 + 1e-9))::BIGINT AS bin, y, p
                 FROM scored)
      SELECT bin, count(*)::BIGINT AS n_docs,
             round(avg(p) + 1e-8, 4) AS mean_pred,
             round(avg(y) + 1e-8, 4) AS frac_pos
      FROM b GROUP BY bin""".stripMargin),
    (spark, dir) => {
      val (f, n) = qfFeatures(spark, dir)
      val w2 = qfWeights(f, n)._2
      f.crossJoin(broadcast(w2))
        .select(col("y"),
          (lit(1.0) / (lit(1.0) + exp(-qfZ))).as("p"))
        .withColumn("bin",
          least(lit(99L), floor(col("p") * 100 + lit(1e-9))).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          Det.r4e(avg(col("p"))).as("mean_pred"),
          Det.r4e(avg(col("y"))).as("frac_pos"))
    })

  /** Feature-hash bucket count for [[fasttextFit]] — 256 here so the spec
    * can reason about occupancy; production uses 2^21, same plan (the
    * bucket id is data, never a structure).
    */
  private val FtB = 256

  val fasttextFit = Q(
    "pipeline_fasttext_fit",
    "fastText-style quality/domain classifier TRAINING (Joulin et al. " +
      "2016) — logistic regression over HASHED bag-of-words features " +
      "(Weinberger et al. 2009 hashing trick: term -> md5 bucket mod " +
      s"$FtB; production uses 2^21 buckets, identical plan), the " +
      "classifier CCNet/LLaMA-style pipelines actually deploy for " +
      "document filtering. The scale story is what distinguishes this " +
      "from pipeline_quality_fit's 4 fixed features: the model lives in " +
      "FEATURE space, so each gradient step is a feature-KEYED " +
      "aggregation (explode once into a materialized (doc, bucket, " +
      "tf/|doc|) frame; gradient = sum over docs per bucket — shuffled " +
      "by bucket key, partial-aggregable map-side) and the weight table " +
      "joins back BY KEY, not broadcast (a 2M-bucket model is the " +
      "ta_unigram_logprob vocabulary shape, quadratically past the " +
      "4-double broadcast of quality_fit). Label: the content heuristic " +
      "count('spark') >= 2 — a marker the bag-of-words CAN learn, and " +
      "measurably does: the marker's bucket surfaces as the TOP-ranked, " +
      "dominant, strengthening weight (FasttextFitSpec pins it; " +
      "two conservative full-batch steps still predict the majority " +
      "class, so accuracy reads the class prior — the weight VECTOR is " +
      "where 2-step learning is visible, exactly as in quality_fit). " +
      "Two full-batch steps; every cross-row sum rounds to 6 " +
      "decimals on both engines before reuse (the power-iteration " +
      "convention), margins threshold in z-space, step 1 closes " +
      "sigmoid(0) = 0.5 analytically. Output: top-20 buckets by " +
      "|step-2 weight| (rounded measure, bucket tie-break) with both " +
      "steps' weights and both training accuracies. At 100 TB: one " +
      "token explosion + per step one bucket-keyed reduce, one " +
      "doc-keyed margin sum, one weight join — no corpus re-scan.",
    Some(s"""
      WITH d AS (SELECT * FROM (
              SELECT doc_id,
                     CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'spark')) >= 2
                          THEN 1.0 ELSE 0.0 END AS y,
                     list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM documents WHERE length(text) > 0)
            WHERE len(toks) > 0),
           n AS (SELECT count(*)::BIGINT AS n FROM d),
           f AS (SELECT doc_id, y, bucket, count(*)::DOUBLE / nw AS x
                 FROM (SELECT doc_id, y, len(toks) AS nw,
                              ('0x' || substr(md5('ft:' || unnest(toks)), 1, 8))::BIGINT % $FtB AS bucket
                       FROM d)
                 GROUP BY doc_id, y, nw, bucket),
           g1 AS (SELECT bucket, round(sum((0.5 - y) * x) + 1e-9, 6) AS g
                  FROM f GROUP BY bucket),
           w1t AS (SELECT bucket, round(-g / n + 1e-9, 6) AS w FROM g1 CROSS JOIN n),
           b1g AS (SELECT round(sum(0.5 - y) + 1e-9, 6) AS g FROM d),
           b1 AS (SELECT round(-g / n + 1e-9, 6) AS w0 FROM b1g CROSS JOIN n),
           m1 AS (SELECT f.doc_id, f.y, round(sum(w1t.w * f.x) + 1e-9, 6) AS s
                  FROM f JOIN w1t USING (bucket) GROUP BY f.doc_id, f.y),
           z1 AS (SELECT doc_id, y, s + w0 AS z FROM m1 CROSS JOIN b1),
           a1 AS (SELECT round(avg(CASE WHEN (CASE WHEN z > 1e-9 THEN 1.0 ELSE 0.0 END) = y
                                   THEN 1.0 ELSE 0.0 END) + 1e-8, 4) AS acc1 FROM z1),
           p AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-z)) AS p FROM z1),
           g2 AS (SELECT bucket, round(sum((p.p - p.y) * f.x) + 1e-9, 6) AS g
                  FROM f JOIN p USING (doc_id) GROUP BY bucket),
           w2t AS (SELECT bucket, round(w1t.w - g2.g / n + 1e-9, 6) AS w
                   FROM w1t JOIN g2 USING (bucket) CROSS JOIN n),
           b2g AS (SELECT round(sum(p - y) + 1e-9, 6) AS g FROM p),
           b2 AS (SELECT round(b1.w0 - g / n + 1e-9, 6) AS w0 FROM b1 CROSS JOIN b2g CROSS JOIN n),
           m2 AS (SELECT f.doc_id, f.y, round(sum(w2t.w * f.x) + 1e-9, 6) AS s
                  FROM f JOIN w2t USING (bucket) GROUP BY f.doc_id, f.y),
           z2 AS (SELECT doc_id, y, s + w0 AS z FROM m2 CROSS JOIN b2),
           a2 AS (SELECT round(avg(CASE WHEN (CASE WHEN z > 1e-9 THEN 1.0 ELSE 0.0 END) = y
                                   THEN 1.0 ELSE 0.0 END) + 1e-8, 4) AS acc2 FROM z2)
      SELECT w1t.bucket, w1t.w AS w1, w2t.w AS w2, a1.acc1, a2.acc2
      FROM w1t JOIN w2t USING (bucket) CROSS JOIN a1 CROSS JOIN a2
      ORDER BY abs(w2t.w) DESC, bucket LIMIT 20""".stripMargin),
    (spark, dir) => {
      def r6(c: Column) = round(c + lit(1e-9), 6)
      val toks = filter(split(col("text"), " "), x => x =!= "")
      // One scan: (doc_id, y, nw, toks), materialized, feeds everything.
      // The doc count is observed during that job (round 14) and folds
      // into the gradient steps as a literal — it was previously a
      // crossJoin(broadcast(count)) subtree re-evaluated in FOUR
      // downstream materialization jobs (w1, b1, w2, b2), each paying an
      // extra scan of the cached base.
      val (base, nDocs) = Q.materializeCounted(
        t(spark, dir, "documents").filter(length(col("text")) > 0)
          .select(col("doc_id"),
            when(size(filter(toks, t => t === "spark")) >= 2, 1.0)
              .otherwise(0.0).as("y"),
            toks.as("toks"))
          .filter(size(col("toks")) > 0)
          .withColumn("nw", size(col("toks")).cast("long")))
      val docs = base.select(col("doc_id"), col("y"))
      // Hashed feature frame: x = tf / |doc| (fastText's mean pooling for
      // the linear case). Bucket ids match the oracle's md5 arithmetic.
      val f = Q.materialize(base
        .select(col("doc_id"), col("y"), col("nw"),
          explode(col("toks")).as("term"))
        .withColumn("bucket", expr("cast(conv(substring(md5(concat('ft:', " +
          s"term)), 1, 8), 16, 10) as bigint) % $FtB"))
        .groupBy(col("doc_id"), col("y"), col("nw"), col("bucket"))
        .agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("y"), col("bucket"),
          (col("c").cast("double") / col("nw")).as("x")))
      // Step 1: w = 0 ⇒ sigmoid = 0.5 closed form; gradient keyed by bucket.
      val g1 = f.groupBy(col("bucket"))
        .agg(r6(sum((lit(0.5) - col("y")) * col("x"))).as("g"))
      val w1t = Q.materialize(g1
        .select(col("bucket"), r6(-col("g") / lit(nDocs)).as("w")))
      // The 1-row bias frames become DRIVER SCALARS (round 14): the
      // arithmetic stays in Spark expressions (same round(), same
      // division — a collected double round-trips exactly through lit),
      // but the value rides downstream as a literal instead of a
      // materialized 1-row frame broadcast into every margin plan.
      val w01 = docs.agg(r6(sum(lit(0.5) - col("y"))).as("g"))
        .select(r6(-col("g") / lit(nDocs)).as("w0")).head.getDouble(0)
      // Margins: weight table joined back BY KEY (the vocabulary shape).
      def margins(wt: org.apache.spark.sql.DataFrame, w0: Double) =
        f.join(wt, "bucket")
          .groupBy(col("doc_id"), col("y"))
          .agg(r6(sum(col("w") * col("x"))).as("s"))
          .select(col("doc_id"), col("y"), (col("s") + lit(w0)).as("z"))
      val z1 = Q.materialize(margins(w1t, w01))
      def accOf(z: org.apache.spark.sql.DataFrame, name: String) =
        z.agg(Det.r4e(avg(
          when((when(col("z") > 1e-9, 1.0).otherwise(0.0)) === col("y"), 1.0)
            .otherwise(0.0))).as(name))
      // Step 2: real sigmoid over the rounded margins.
      val p = z1.select(col("doc_id"), col("y"),
        (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("p"))
      val g2 = f.join(p.select(col("doc_id"), col("p")), "doc_id")
        .groupBy(col("bucket"))
        .agg(r6(sum((col("p") - col("y")) * col("x"))).as("g"))
      val w2t = Q.materialize(
        w1t.select(col("bucket"), col("w").as("pw"))
          .join(g2, "bucket")
          .select(col("bucket"),
            r6(col("pw") - col("g") / lit(nDocs)).as("w")))
      val w02 = p.agg(r6(sum(col("p") - col("y"))).as("g"))
        .select(r6(lit(w01) - col("g") / lit(nDocs)).as("w0"))
        .head.getDouble(0)
      val z2 = margins(w2t, w02)
      w1t.select(col("bucket"), col("w").as("w1"))
        .join(w2t.select(col("bucket"), col("w").as("w2")), "bucket")
        .orderBy(abs(col("w2")).desc, col("bucket").asc)
        .limit(20)
        .crossJoin(broadcast(accOf(z1, "acc1")))
        .crossJoin(broadcast(accOf(z2, "acc2")))
        .select(col("bucket"), col("w1"), col("w2"), col("acc1"), col("acc2"))
    })

  val bm25 = Q(
    "ta_bm25",
    "BM25 document ranking (Robertson-Sparck Jones idf, k1=1.2, b=0.75) " +
      "for a fixed 4-term query — the retrieval scorer a RAG/eval stack " +
      "runs over a curated corpus. Reuses ta_tfidf's one-pass (doc, term) " +
      "count frame: doc lengths and the corpus avgdl/N derive from that " +
      "aggregated frame (no second corpus scan); the query-term slice is " +
      "filtered BEFORE any join, so only |docs|x|query| rows move, and " +
      "the 4-row df table + 1-row corpus stats broadcast. Top-20 docs by " +
      "score, ordered on the 6-decimal rounding with doc_id tie-break " +
      "(both engines sum 4 doubles in different orders; the epsilon " +
      "rounding absorbs the ~1e-15 noise).",
    Some("""
      WITH w AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents),
           tf AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM w GROUP BY 1, 2),
           dl AS (SELECT doc_id, sum(c)::BIGINT AS dl FROM tf GROUP BY 1),
           stats AS (SELECT avg(dl) AS avgdl, count(*)::BIGINT AS n_docs FROM dl),
           q AS (SELECT unnest(['vector', 'hash', 'stream', 'spark']) AS term),
           df AS (SELECT tf.term, count(*)::BIGINT AS df
                  FROM tf JOIN q ON q.term = tf.term GROUP BY 1),
           scored AS (
             SELECT tf.doc_id,
                    sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * c * 2.2
                        / (c + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))) AS s
             FROM tf
             JOIN df ON df.term = tf.term
             JOIN dl ON dl.doc_id = tf.doc_id, stats
             GROUP BY tf.doc_id)
      SELECT doc_id, round(s + 1e-8, 4) AS bm25
      FROM scored
      ORDER BY round(s + 1e-9, 6) DESC, doc_id
      LIMIT 20""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).cast("long").as("c")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("c")).cast("long").as("dl"))
      val stats = dl.agg(avg(col("dl")).as("avgdl"),
        count(lit(1)).cast("long").as("n_docs"))
      val qterms = Seq("vector", "hash", "stream", "spark")
      val tfq = tf.filter(col("term").isin(qterms: _*))
      val dfq = tfq.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
      tfq.join(broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
              + lit(1.0)) *
            col("c") * lit(2.2) /
            (col("c") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("s"))
        .withColumn("bm25", Det.r4e(col("s")))
        .orderBy(round(col("s") + lit(1e-9), 6).desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("bm25"))
    })

  val bigramLogprob = Q(
    "ta_bigram_logprob",
    "Bigram cross-entropy per document — the order-2 step from " +
      "ta_unigram_logprob toward the real CCNet/Wenzek KenLM perplexity " +
      "filter: per doc, the mean negative log of the MLE bigram " +
      "probability c(w1,w2)/c(w1·) over its adjacent-token pairs, plus " +
      "the perplexity. Unlike the unigram score this catches WORD-ORDER " +
      "degeneracy: shuffled or templated text keeps its unigram " +
      "distribution but its bigrams go rare, so xent jumps. Scoring the " +
      "training corpus itself makes MLE well-defined (every doc bigram " +
      "is in the model) — no smoothing knob to disagree on between " +
      "engines. ONE adjacency explosion (codegen transform over the " +
      "token array — no self-join on position) builds the per-doc " +
      "bigram counts; the bigram model c(w1,w2) AND the context " +
      "marginal c(w1·) both derive from that frame (no second scan), " +
      "and both join back BY KEY — at 100 TB a bigram vocabulary is " +
      "quadratically farther from broadcastable than the unigram one, " +
      "so the shuffle join here is not a fallback, it is the only " +
      "correct shape. The 1-word context marginal rides the same " +
      "shuffle (key w1). ln is libm on both engines over identical " +
      "BIGINT inputs; sub-ulp noise is absorbed by the epsilon-shifted " +
      "rounding.",
    Some("""
      WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '),
                          x -> x <> '') AS tk
                 FROM documents),
           b AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
                 FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 1)) AS i
                       FROM w WHERE len(tk) >= 2)),
           tf AS (SELECT doc_id, w1, w2, count(*) AS c
                  FROM b GROUP BY doc_id, w1, w2),
           c12 AS (SELECT w1, w2, sum(c)::BIGINT AS c12
                   FROM tf GROUP BY w1, w2),
           c1 AS (SELECT w1, sum(c)::BIGINT AS c1 FROM tf GROUP BY w1),
           x AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
                        -sum(c * (ln(1.0 * c12) - ln(1.0 * c1))) AS nll
                 FROM tf
                 JOIN c12 ON c12.w1 = tf.w1 AND c12.w2 = tf.w2
                 JOIN c1 ON c1.w1 = tf.w1
                 GROUP BY doc_id)
      SELECT doc_id, n_bigrams,
             round(nll / n_bigrams + 1e-8, 4) AS xent,
             round(exp(nll / n_bigrams) + 1e-6, 2) AS ppl
      FROM x""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        Tables.fanned(spark, dir, "documents") // r13 fanned: expansion-heavy map work
          .select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 2)," +
              " i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c")))
      val c12 = tf.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).cast("long").as("c12"))
      val c1 = tf.groupBy(col("w1"))
        .agg(sum(col("c")).cast("long").as("c1"))
      tf.join(c12, Seq("w1", "w2"))
        .join(c1, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          (-sum(col("c") * (log(col("c12").cast("double")) -
            log(col("c1").cast("double"))))).as("nll"))
        .select(col("doc_id"), col("n_bigrams"),
          Det.r4e(col("nll") / col("n_bigrams")).as("xent"),
          Det.r2e(exp(col("nll") / col("n_bigrams"))).as("ppl"))
    })

  val knLogprob = Q(
    "ta_kn_logprob",
    "Interpolated KNESER-NEY bigram cross-entropy per document — the " +
      "actual smoothing family KenLM implements, i.e. the real " +
      "CCNet/Wenzek perplexity filter rather than ta_bigram_logprob's " +
      "MLE: P(w2|w1) = (max(c12 - D, 0) + D * N1+(w1.) * Pcont(w2)) / " +
      "c1 with D = 0.75 and the CONTINUATION distribution Pcont(w2) = " +
      "N1+(.w2) / N1+(..) — the insight that 'Francisco' is frequent " +
      "but only ever follows 'San', so its smoothed unigram weight " +
      "should be its distinct-context count, not its raw frequency. " +
      "All four model statistics derive from ONE bigram-type frame " +
      "(the same single adjacency explosion as the MLE query): per-" +
      "context totals + type counts group by w1, continuation counts " +
      "group by w2, the type total is a 1-row broadcast cross; model " +
      "tables join back BY KEY (the bigram-vocabulary shuffle shape — " +
      "never broadcastable at 100 TB). The probability expression is " +
      "spelled identically in both engines over identical BIGINT " +
      "counts (IEEE-deterministic), ln is libm-identical, and the " +
      "per-doc sum rounds with the epsilon shift. KnSmoothingSpec pins " +
      "the smoothing LAW itself: sum over w2 of P(w2|w1) == 1 for " +
      "every context, plus a sequential differential of the full " +
      "census.",
    Some("""
      WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '),
                          x -> x <> '') AS tk
                 FROM documents),
           b AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
                 FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 1)) AS i
                       FROM w WHERE len(tk) >= 2)),
           tf AS (SELECT doc_id, w1, w2, count(*) AS c
                  FROM b GROUP BY doc_id, w1, w2),
           c12 AS (SELECT w1, w2, sum(c)::BIGINT AS c12
                   FROM tf GROUP BY w1, w2),
           ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1f
                   FROM c12 GROUP BY w1),
           cont AS (SELECT w2, count(*)::BIGINT AS n1b FROM c12 GROUP BY w2),
           tot AS (SELECT count(*)::BIGINT AS nall FROM c12),
           x AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
                        -sum(c * ln((greatest(c12 - 0.75, 0.0)
                              + 0.75 * n1f * (n1b / nall)) / c1)) AS nll
                 FROM tf
                 JOIN c12 ON c12.w1 = tf.w1 AND c12.w2 = tf.w2
                 JOIN ctx ON ctx.w1 = tf.w1
                 JOIN cont ON cont.w2 = tf.w2
                 CROSS JOIN tot
                 GROUP BY doc_id)
      SELECT doc_id, n_bigrams,
             round(nll / n_bigrams + 1e-8, 4) AS xent,
             round(exp(nll / n_bigrams) + 1e-6, 2) AS ppl
      FROM x""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val tf = Q.materialize(
        Tables.fanned(spark, dir, "documents") // r13 fanned: expansion-heavy map work
          .select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 2)," +
              " i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c")))
      val c12 = Q.materialize(tf.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).cast("long").as("c12")))
      val ctx = c12.groupBy(col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"),
          count(lit(1)).cast("long").as("n1f"))
      val cont = c12.groupBy(col("w2"))
        .agg(count(lit(1)).cast("long").as("n1b"))
      val tot = c12.agg(count(lit(1)).cast("long").as("nall"))
      tf.join(c12, Seq("w1", "w2"))
        .join(ctx, Seq("w1"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          (-sum(col("c") * log(
            (greatest(col("c12") - 0.75, lit(0.0))
              + lit(0.75) * col("n1f") * (col("n1b") / col("nall")))
              / col("c1")))).as("nll"))
        .select(col("doc_id"), col("n_bigrams"),
          Det.r4e(col("nll") / col("n_bigrams")).as("xent"),
          Det.r2e(exp(col("nll") / col("n_bigrams"))).as("ppl"))
    })

  val piiRedact = Q(
    "ta_pii_redact",
    "PII REDACTION — the compliance pass every published pipeline runs " +
      "before release (C4 strips lines with PII tokens; Dolma/BigScience " +
      "mask emails/phones/IPs in place): deterministic PII spans are " +
      "synthesized onto each doc (email for doc_id%3=0, +1-555 phone for " +
      "%4=0, dotted-quad IP for %5=0 — the corpus carries none natively, " +
      "same convention as the URL synthesis), then three regex passes " +
      "count and MASK them with typed placeholders (<EMAIL>/<IP>/" +
      "<PHONE>). The output carries the redacted text's length AND md5 " +
      "fingerprint, so the oracle (RE2 in DuckDB vs Java regex here) " +
      "verifies the exact byte-level rewrite, not just the counts — a " +
      "greedy-match or replacement-order divergence shows as fingerprint " +
      "drift. Scale: pure per-row codegen string work, zero exchanges " +
      "beyond the scan; the patterns are anchored character classes " +
      "(no catastrophic backtracking class).",
    Some("""
      WITH aug AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
                 '@mail' || (doc_id % 7) || '.example.com now'
               ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-' ||
                 (1000 + doc_id % 9000) ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || (doc_id % 256) ||
                 '.0.' || (doc_id % 100) ELSE '' END AS t
        FROM documents),
           red AS (
        SELECT doc_id,
               len(regexp_extract_all(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
                 AS n_emails,
               len(regexp_extract_all(t,
                 '\+1-555-[0-9]{4}'))::BIGINT AS n_phones,
               len(regexp_extract_all(t,
                 '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS n_ips,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                 '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS r
        FROM aug)
      SELECT doc_id, n_emails, n_phones, n_ips,
             length(r)::BIGINT AS red_len, md5(r) AS red_fp
      FROM red""".stripMargin),
    (spark, dir) => {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phonePat = "\\+1-555-[0-9]{4}"
      val ipPat = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val aug = t(spark, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@mail"),
              col("doc_id") % 7, lit(".example.com now"))).otherwise(""),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call +1-555-"), lit(1000) + col("doc_id") % 9000))
            .otherwise(""),
          when(col("doc_id") % 5 === 0,
            concat(lit(" host 10."), col("doc_id") % 256, lit(".0."),
              col("doc_id") % 100)).otherwise("")).as("t"))
      aug.select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("t"), lit(ipPat), lit(0)))
            .cast("long").as("n_ips"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), emailPat, "<EMAIL>"),
              ipPat, "<IP>"),
            phonePat, "<PHONE>").as("r"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), length(col("r")).cast("long").as("red_len"),
          md5(col("r").cast("binary")).as("red_fp"))
    })

  val encodingFix = Q(
    "ta_encoding_fix",
    "Mojibake detection + repair — the encoding-hygiene pass (ftfy; " +
      "CCNet's fix_unicode) a web-scale pipeline runs before anything " +
      "touches the text: UTF-8 bytes decoded as Latin-1 turn every " +
      "accented char into a 'Ãx' digraph (é → Ã©, ö → Ã¶ …). The corpus " +
      "is ASCII, so the operator synthesizes ground truth per doc " +
      "(accent injection: 'er'→'ér' for doc_id%2=0, 'on'→'ön' for " +
      "%3=0 — the URL/PII synthesis convention), corrupts it through " +
      "the exact UTF-8→Latin-1 confusion, then repairs with a fixed " +
      "digraph table (the ftfy core trick: the byte pairs mojibake " +
      "produces are so improbable in real text that reversing them is " +
      "safe). Output: mojibake digraph count (by length delta — " +
      "char-count semantics agree across engines since every char is " +
      "BMP) and the repaired text's length + md5, so the oracle " +
      "verifies the exact rewrite AND that repair(corrupt(x)) == x " +
      "round-trips (repair_ok — computed, not assumed). Scale: pure " +
      "per-row codegen string chains, zero exchanges beyond the scan.",
    Some("""
      WITH orig AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN
                 replace(CASE WHEN doc_id % 2 = 0
                              THEN replace(text, 'er', 'ér') ELSE text END,
                         'on', 'ön')
                    WHEN doc_id % 2 = 0 THEN replace(text, 'er', 'ér')
                    ELSE text END AS o
        FROM documents),
           corrupt AS (
        SELECT doc_id, o,
               replace(replace(o, 'é', 'Ã©'), 'ö', 'Ã¶') AS c
        FROM orig),
           fixed AS (
        SELECT doc_id, o, c,
               replace(replace(replace(replace(c,
                 'Ã©', 'é'), 'Ã¶', 'ö'), 'Ã¼', 'ü'), 'Ã±', 'ñ') AS f
        FROM corrupt)
      SELECT doc_id,
             (length(c) - length(f))::BIGINT AS n_moji,
             (f = o) AS repair_ok,
             length(f)::BIGINT AS fixed_len,
             md5(f) AS fixed_fp
      FROM fixed""".stripMargin),
    (spark, dir) => {
      // Literal (non-regex) replace chains — codegen StringReplace, the
      // exact engine-level twin of the oracle's replace().
      val o0 = when(col("doc_id") % 2 === 0,
        expr("replace(text, 'er', 'ér')")).otherwise(col("text"))
      val o = when(col("doc_id") % 3 === 0,
        expr("replace(o0, 'on', 'ön')")).otherwise(col("o0"))
      // The UTF-8-as-Latin-1 confusion, applied literally: each accented
      // char becomes its two UTF-8 bytes read as Latin-1 chars.
      t(spark, dir, "documents")
        .select(col("doc_id"), o0.as("o0"))
        .select(col("doc_id"), o.as("o"))
        .withColumn("c",
          expr("replace(replace(o, 'é', 'Ã©'), 'ö', 'Ã¶')"))
        // Repair table: the four commonest Latin-1 mojibake digraphs; the
        // last two ('Ã¼', 'Ã±') never fire here — they pin that both
        // engines agree on NOT matching, the PiiRedactSpec trap.
        .withColumn("f", expr(
          "replace(replace(replace(replace(c, 'Ã©', 'é'), 'Ã¶', 'ö'), " +
            "'Ã¼', 'ü'), 'Ã±', 'ñ')"))
        .select(col("doc_id"),
          (length(col("c")) - length(col("f"))).cast("long").as("n_moji"),
          (col("f") === col("o")).as("repair_ok"),
          length(col("f")).cast("long").as("fixed_len"),
          md5(col("f").cast("binary")).as("fixed_fp"))
    })

  val winnow = Q(
    "ta_winnow",
    "WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken 2003 — " +
      "the MOSS algorithm): from every window of w=4 consecutive k-gram " +
      "hashes (k=5 chars), select the MINIMUM, rightmost on ties — the " +
      "guarantee-bearing sparsification under every fingerprint-based " +
      "near-dup/plagiarism system (any shared substring of length " +
      "k+w-1 = 8 is caught by a shared selected fingerprint; expected " +
      "density 2/(w+1)). The rightmost-min argmax is encoded as ONE " +
      "BIGINT key = hash * 2^32 + (2^32-1 - pos) — min(key) IS " +
      "(min hash, rightmost pos), exactly filling int64 for a 31-bit " +
      "hash — so the per-window selection is a plain min() over a " +
      "4-row running frame, pure codegen, engine-identical. Plan: one " +
      "scan, the L-row k-gram explosion (the gram-family bound), a " +
      "doc-keyed ordered window, and the census groupBy ON THE SAME " +
      "KEY — the window's exchange is reused, the whole operator is " +
      "one doc-keyed shuffle. Census per doc: k-grams, windows, " +
      "selected positions, achieved density (vs the 2/(w+1) law, " +
      "asserted in WinnowSpec), and the md5 sketch over the sorted " +
      "distinct selected hashes — the doc's winnowing fingerprint set.",
    Some("""
      WITH d AS (SELECT doc_id, text, (length(text) - 4)::BIGINT AS n_kgrams
                 FROM documents WHERE length(text) >= 8),
           h AS (SELECT doc_id, n_kgrams, p AS pos,
                        list_reduce(list_prepend(0::BIGINT,
                          list_transform(range(0, 5),
                            j -> ord(substr(text, (p + j)::INT, 1))::BIGINT)),
                          (acc, c) -> (acc * 31 + c) & 2147483647) AS kh
                 FROM (SELECT doc_id, n_kgrams, text,
                              unnest(range(1, n_kgrams + 1)) AS p FROM d)),
           sel AS (SELECT doc_id, n_kgrams, pos,
                          min(kh * 4294967296 + (4294967295 - pos)) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS skey
                   FROM h),
           v AS (SELECT * FROM sel WHERE pos <= n_kgrams - 3)
      SELECT doc_id, n_kgrams, (n_kgrams - 3)::BIGINT AS n_windows,
             count(DISTINCT skey)::BIGINT AS n_selected,
             round(count(DISTINCT skey) / ((n_kgrams - 3)::DOUBLE) + 1e-8, 4)
               AS density4,
             md5(array_to_string(
               list_sort(list(DISTINCT skey // 4294967296)), ',')) AS sketch_fp
      FROM v GROUP BY doc_id, n_kgrams""".stripMargin),
    (spark, dir) => {
      val d = t(spark, dir, "documents")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("text"),
          (length(col("text")) - 4).cast("long").as("n_kgrams"))
      // Native one-pass k-gram hash array (KgramHash31): the higher-order
      // aggregate/substring formulation paid an interpreted lambda + an
      // O(p) UTF-8 seek per character — O(L²)/doc, the heaviest query in
      // the sf0.1 bench (9.6 s) until this expression replaced it.
      val h = d.select(col("doc_id"), col("n_kgrams"),
        posexplode(graft.functions.KgramHash31(col("text"), 5)))
        .select(col("doc_id"), col("n_kgrams"),
          (col("pos") + 1).cast("long").as("pos"), col("col").as("kh"))
      val sel = h.withColumn("skey",
        min(col("kh") * lit(4294967296L) + (lit(4294967295L) - col("pos")))
          .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(0, 3)))
        .filter(col("pos") <= col("n_kgrams") - 3)
      sel.groupBy(col("doc_id"), col("n_kgrams"))
        .agg(countDistinct(col("skey")).as("n_selected"),
          expr("md5(concat_ws(',', transform(" +
            "array_sort(collect_set(skey div 4294967296)), " +
            "x -> cast(x as string))))").as("sketch_fp"))
        .select(col("doc_id"), col("n_kgrams"),
          (col("n_kgrams") - 3).cast("long").as("n_windows"),
          col("n_selected").cast("long").as("n_selected"),
          round(col("n_selected") / (col("n_kgrams") - 3).cast("double")
            + lit(1e-8), 4).as("density4"),
          col("sketch_fp"))
    })

  val domainCap = Q(
    "pipeline_domain_cap",
    "PER-DOMAIN CAP — the anti-domination gate RefinedWeb/C4 apply after " +
      "URL filtering: no single domain may contribute more than K " +
      "documents to the corpus (content farms and mirror hosts would " +
      "otherwise dominate any frequency-based signal downstream). Keep " +
      "the K=15 BEST documents per source by the shared composite " +
      "quality score (ta_quality_score's expression, rounded to 6 " +
      "decimals so the ranking is engine-exact, doc_id tie-break — the " +
      "dedup_keep_best determinism rule), emit the per-source census: " +
      "volumes kept/dropped and the quality CUTOFF the cap induced (the " +
      "15th-best score — the number a curation report actually quotes). " +
      "Plan: one scan computing token stats map-side, a source-keyed " +
      "ranking window (the partition is a single domain's documents — " +
      "production domain caps run exactly this shape; a pathological " +
      "mega-domain is bounded by the same AQE skew handling as every " +
      "keyed exchange), ONE partial-aggregable census on the same key — " +
      "the window exchange is REUSED by the groupBy (same partitioning), " +
      "so the plan carries a single source-keyed shuffle.",
    Some(s"""
      WITH q AS (SELECT doc_id, source,
                        len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
                        len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_distinct
                 FROM documents),
           qq AS (SELECT doc_id, source, n_tokens,
                         round(($QualitySql) + 1e-9, 6) AS q6
                  FROM q),
           r AS (SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY q6 DESC, doc_id) AS rk
                 FROM qq)
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             sum(CASE WHEN rk > 15 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
             sum(CASE WHEN rk <= 15 THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens,
             min(CASE WHEN rk <= 15 THEN q6 END) AS cutoff_q6
      FROM r GROUP BY source""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val qq = t(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          round(qualityCol + lit(1e-9), 6).as("q6"))
      val ranked = qq.withColumn("rk",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("q6").desc, col("doc_id"))))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("rk") <= 15, 1L).otherwise(0L)).cast("long")
            .as("n_kept"),
          sum(when(col("rk") > 15, 1L).otherwise(0L)).cast("long")
            .as("n_dropped"),
          sum(when(col("rk") <= 15, col("n_tokens")).otherwise(0L))
            .cast("long").as("kept_tokens"),
          min(when(col("rk") <= 15, col("q6"))).as("cutoff_q6"))
    })

  val langMixture = Q(
    "pipeline_lang_mixture",
    "LANGUAGE-TEMPERATURE MIXTURE — the multilingual sampling law every " +
      "multilingual LLM uses (XLM-R/mT5: alpha = 0.3): raw language " +
      "shares p_l are exponentiated p_l^alpha and renormalized, " +
      "upweighting minority languages so they are not drowned by the " +
      "head language, then a 10k-document budget is allocated from the " +
      "tempered shares. Plan: ONE corpus scan to a per-language " +
      "aggregate (5 rows), a 1-row token-total broadcast cross, the " +
      "pow/renormalize arithmetic on the 5-row frame with a second " +
      "1-row weight-sum broadcast cross — at 100 TB the corpus is " +
      "touched exactly once and everything after is constant-size. " +
      "Determinism: raw shares are single BIGINT/BIGINT divisions " +
      "(IEEE-exact), pow is libm-identical, and the renormalized shares " +
      "round through the repo's 4-decimal epsilon convention before the " +
      "integer budget is derived FROM THE ROUNDED share — so both " +
      "engines allocate identical budgets.",
    Some("""
      WITH l AS (SELECT lang, count(*)::BIGINT AS n_docs,
                        sum(len(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_tokens
                 FROM documents GROUP BY lang),
           tot AS (SELECT sum(n_tokens)::BIGINT AS t FROM l),
           w AS (SELECT lang, n_docs, n_tokens,
                        n_tokens / (t::DOUBLE) AS p_raw,
                        pow(n_tokens / (t::DOUBLE), 0.3) AS wgt
                 FROM l CROSS JOIN tot),
           z AS (SELECT sum(wgt) AS sw FROM w)
      SELECT lang, n_docs, n_tokens,
             round(p_raw + 1e-8, 4) AS p_raw4,
             round(wgt / sw + 1e-8, 4) AS p_temp4,
             CAST(round(round(wgt / sw + 1e-8, 4) * 10000, 0) AS BIGINT) AS budget_docs
      FROM w CROSS JOIN z""".stripMargin),
    (spark, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val l = t(spark, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(toks)).cast("long").as("n_tokens"))
      val tot = l.agg(sum(col("n_tokens")).cast("long").as("t"))
      val w = l.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          (col("n_tokens") / col("t")).as("p_raw"),
          pow(col("n_tokens") / col("t"), lit(0.3)).as("wgt"))
      val z = w.agg(sum(col("wgt")).as("sw"))
      w.crossJoin(broadcast(z))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("p_raw") + lit(1e-8), 4).as("p_raw4"),
          round(col("wgt") / col("sw") + lit(1e-8), 4).as("p_temp4"),
          round(round(col("wgt") / col("sw") + lit(1e-8), 4) * lit(10000), 0)
            .cast("long").as("budget_docs"))
    })

  val all: Seq[Q] = Seq(wordcount, invertedIndex, collector, filecount, grep,
    langid, tokenStats, quality, fingerprint, bpeTokens, rollingHash,
    tfidf, chunkPack, cdcChunks, corpusClean, sampleStratified,
    sampleExactK, sampleWeighted, packSequences, unigramLogprob, bigramLogprob, knLogprob, piiRedact, encodingFix,
    tokenBudget, trainingCorpus, datasetCard, quarantine, bpeFit, bpeApply,
    zipfFit, qualityFit, qualityCalibration, fasttextFit, bm25,
    domainCap, langMixture, winnow)
}
