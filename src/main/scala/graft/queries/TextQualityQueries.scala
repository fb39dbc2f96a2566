package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.TextStats
import graft.plans.Prefix
import Shared.{minHashOracleSql, stopwordSqlList, qualityMicroSqlExpr, qualitySqlExpr}

/** [EXT] Document quality and curation through `graft.ext.TextStats`,
  * `Curation` and `Regression`: text statistics, language ID, quality and
  * Gopher gates, fingerprints, chunking and packing, the curation pipeline
  * and the in-engine ridge fit of the quality scorer.
  */
object TextQualityQueries {

  /** [[graft.ext.TextStats.gopherRules]]'s integer moments as a CTE
    * chain ending in `gm(doc_id, n_words, chars, sym, alpha, stp)` —
    * shared by the q_gopher_rules and q_curation_pipeline oracles.
    */
  private def gopherMomentsCtes: String =
    """gtk AS (
      |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |gm AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT) AS chars,
      |    CAST(len(list_filter(tk, t -> contains(t, '#')
      |      OR contains(t, '…'))) AS BIGINT) AS sym,
      |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
      |      AS BIGINT) AS alpha,
      |    CAST(len(list_filter(tk, t -> t IN ('the', 'be', 'to', 'of',
      |      'and', 'that', 'have', 'with'))) AS BIGINT) AS stp
      |  FROM gtk)""".stripMargin

  /** The Gopher pass conjunction over `gm`'s columns. */
  private def gopherPassSql: String =
    """(n_words BETWEEN 5 AND 1000)
      |    AND chars >= n_words * 3 AND chars <= n_words * 10
      |    AND sym * 10 <= n_words AND alpha * 5 >= n_words * 4
      |    AND stp >= 2""".stripMargin

  /** The integer feature frame shared by the ridge fit and its eval:
    * (token count, stopword count, quality micro-score).
    */
  private def ridgeFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(
        TextStats.tokenCount(col("text")).cast("long").as("x1"),
        size(filter(TextStats.tokens(col("text")),
          w => w.isin(TextStats.enStopwords: _*))).cast("long").as("x2"),
        TextStats.qualityScoreMicro(col("text")).as("y"))

  /** The q_ridge_quality fit chain (features -> moments -> Cramer ->
    * quantized weights) as shared CTEs ending in `f` and `wq` — the
    * eval oracle scores over the same chain so fit and eval can never
    * drift.
    */
  private def ridgeFitCtes: String =
    """f AS (
      |  SELECT CAST(LEN(str_split(TRIM(text), ' ')) AS HUGEINT) AS x1,
      |    CAST(LEN(list_filter(str_split(TRIM(text), ' '),
      |      t -> t IN ('the','a','an','of','and','to','in','is','on',
      |                 'for','with','at','by','from','as','it','that',
      |                 'this'))) AS HUGEINT) AS x2,
      |    CAST(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
      |      + (600000 * LEN(list_filter(str_split(TRIM(text), ' '),
      |           t -> t IN ('the','a','an','of','and','to','in','is','on',
      |                      'for','with','at','by','from','as','it','that',
      |                      'this'))) + LEN(str_split(TRIM(text), ' ')))
      |        // (2 * LEN(str_split(TRIM(text), ' '))) AS HUGEINT) AS y
      |  FROM documents WHERE text IS NOT NULL),
      |m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(x1) AS s1, SUM(x2) AS s2,
      |    SUM(x1 * x1) + 100 AS s11, SUM(x1 * x2) AS s12,
      |    SUM(x2 * x2) + 100 AS s22,
      |    SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      |  FROM f),
      |d AS (
      |  SELECT n,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det1,
      |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      |      + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM m),
      |wq AS (
      |  SELECT n,
      |    (det0 * 1000000 - (det0 * 1000000) % det) // det AS w0q,
      |    (det1 * 1000000 - (det1 * 1000000) % det) // det AS w1q,
      |    (det2 * 1000000 - (det2 * 1000000) % det) // det AS w2q
      |  FROM d)""".stripMargin

  /** The Gopher gate columns, in rule order — shared by the
    * q_gate_ablation query and its oracle generator.
    */
  private val GopherGates = Seq("rule_words", "rule_mean_len",
    "rule_symbols", "rule_alpha", "rule_stopwords")

  /** The per-gate verdict CTE over [[gopherMomentsCtes]]'s `gm` —
    * reused by the ablation oracle so rule definitions cannot drift
    * from q_gopher_rules.
    */
  private def gopherVerdictCte: String =
    s"""$gopherMomentsCtes,
      |gr AS (
      |  SELECT doc_id, n_words,
      |    (n_words BETWEEN 5 AND 1000) AS rule_words,
      |    (chars >= n_words * 3 AND chars <= n_words * 10) AS rule_mean_len,
      |    (sym * 10 <= n_words) AS rule_symbols,
      |    (alpha * 5 >= n_words * 4) AS rule_alpha,
      |    (stp >= 2) AS rule_stopwords
      |  FROM gm)""".stripMargin

  /** One UNION ALL arm per gate (any-failure + sole-failure counts)
    * plus the `__all__` totals arm — generated from [[GopherGates]] so
    * the oracle's gate list tracks the query's.
    */
  private def gateAblationOracleSql: String = {
    val arms = GopherGates.map { g =>
      val others = GopherGates.filter(_ != g).mkString(" AND ")
      s"""SELECT '$g' AS gate,
         |  CAST(SUM(CASE WHEN NOT $g THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_any,
         |  CAST(SUM(CASE WHEN NOT $g AND $others THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fail_sole
         |FROM gr""".stripMargin
    }
    val all = GopherGates.mkString(" AND ")
    val totals =
      s"""SELECT '__all__' AS gate, CAST(COUNT(*) AS BIGINT) AS n_fail_any,
         |  CAST(SUM(CASE WHEN $all THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_sole
         |FROM gr""".stripMargin
    s"WITH $gopherVerdictCte\n" + (arms :+ totals).mkString("\nUNION ALL\n")
  }

  val defs: Seq[QueryDef] = Seq(

    // Token / char / subword counts.
    QueryDef("q_text_stats", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.uniqueTokenCount(col("text")).cast("long").as("n_unique_tokens"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens"))
    },
      """SELECT doc_id, lang,
        |  LENGTH(text) AS n_chars_calc,
        |  LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |  LEN(list_distinct(str_split(TRIM(text), ' '))) AS n_unique_tokens,
        |  LEN(regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish_tokens
        |FROM documents""".stripMargin),

    // Language-ID heuristic (stopword density).
    QueryDef("q_lang_id", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextStats.stopwordRatio(col("text")).as("stop_ratio"),
        TextStats.langId(col("text")).as("predicted_lang")),
      s"""SELECT doc_id, lang,
        |  CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |    t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |    / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) AS stop_ratio,
        |  CASE WHEN CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |    t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |    / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) >= 0.05
        |    THEN 'en' ELSE 'unk' END AS predicted_lang
        |FROM documents""".stripMargin),

    // Quality scoring.
    QueryDef("q_quality_score", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality")),
      s"""SELECT doc_id,
        |  LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |  $qualitySqlExpr AS quality
        |FROM documents""".stripMargin),

    // Exact + bag-of-words-normalized fingerprints.
    QueryDef("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.normalizedFingerprint(col("text")).as("norm_fp")),
      """SELECT doc_id, md5(text) AS fp,
        |  md5(array_to_string(list_sort(list_distinct(str_split(LOWER(TRIM(text)), ' '))), ' ')) AS norm_fp
        |FROM documents""".stripMargin),

    // Winnowing (rolling-hash) fingerprint sets — partial-overlap
    // detection (MOSS algorithm), k=3-token grams, window w=4.
    QueryDef("q_fingerprint_winnow", (s, dir) =>
      TextStats.winnowingFingerprints(
        Tables.documents(s, dir), "doc_id", "text", k = 3, w = 4),
      // Winnowing: same positional 3-gram, same 60-bit md5 hash, same
      // window-minimum selection over w=4 full windows.
      """WITH t AS (
        |  SELECT doc_id, str_split(TRIM(LOWER(text)), ' ') AS tk FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> {'pos': i, 'gram': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]})) AS s
        |  FROM t),
        |g AS (
        |  SELECT doc_id, s.pos AS pos,
        |    ('0x' || substr(md5(s.gram), 1, 15))::BIGINT AS h
        |  FROM g0),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS r,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM wmin WHERE r <= GREATEST(1, m - 3)""".stripMargin),

    // Composite curation pipeline — lang-ID filter → quality gate →
    // exact dedup (min-id representative), as ONE Catalyst plan: the
    // scan computes all scores in a single pass, the only shuffle is
    // the dedup groupBy, and column pruning drops `text` after the agg.
    QueryDef("q_curate", (s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("text"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.langId(col("text")).as("lang_pred"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.3)
      // identical text ⇒ identical scores, so min() is exact, not a choice
      scored.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_tokens")).as("n_tokens"),
          min(col("quality")).as("quality"),
          count(lit(1)).as("n_copies"))
        .select("doc_id", "n_tokens", "quality", "n_copies")
    },
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |    LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |    $qualitySqlExpr AS quality,
        |    CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |      t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |      / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) AS stop_ratio
        |  FROM documents)
        |SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens,
        |  MIN(quality) AS quality, COUNT(*) AS n_copies
        |FROM s
        |WHERE stop_ratio >= 0.05 AND quality >= 0.3
        |GROUP BY text""".stripMargin),

    // [EXT] Gopher rule bundle: the canonical pretraining hygiene
    // filter as exact integer verdicts (no float thresholds).
    QueryDef("q_gopher_rules", (s, dir) =>
      TextStats.gopherRules(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH $gopherMomentsCtes
        |SELECT doc_id, n_words,
        |  (n_words BETWEEN 5 AND 1000) AS rule_words,
        |  (chars >= n_words * 3 AND chars <= n_words * 10) AS rule_mean_len,
        |  (sym * 10 <= n_words) AS rule_symbols,
        |  (alpha * 5 >= n_words * 4) AS rule_alpha,
        |  (stp >= 2) AS rule_stopwords,
        |  ($gopherPassSql) AS pass
        |FROM gm""".stripMargin),

    // Gopher-style repetition quality signals per document.
    QueryDef("q_repetition", (s, dir) =>
      TextStats.repetitionMetrics(Tables.documents(s, dir), "doc_id", "text"),
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_distinct(list_transform(
        |      generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1]))) AS BIGINT) AS n_bigrams
        |  FROM tk),
        |tc AS (
        |  SELECT doc_id, MAX(c) AS top_c FROM (
        |    SELECT doc_id, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(tk) AS tok FROM tk)
        |    GROUP BY doc_id, tok)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  ROUND(CAST(top_c AS DOUBLE) / b.n_tokens, 6) AS top_token_frac,
        |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_token_frac,
        |  CASE WHEN b.n_tokens > 1
        |    THEN ROUND(1.0 - CAST(n_bigrams AS DOUBLE) / (b.n_tokens - 1), 6) END
        |    AS dup_bigram_frac
        |FROM base b JOIN tc USING (doc_id)""".stripMargin),

    // RAG-style token-window chunking: 16-token windows, 4-token overlap.
    QueryDef("q_chunk_tokens", (s, dir) =>
      TextStats.tokenWindowChunks(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
        chunkSize = 16, overlap = 4).drop("text"),
      // Chunk starts advance by stride = 16 - 4 = 12; chunk count is
      // 1 for len <= 16 else (len-16+stride-1)//stride + 1 — the same
      // integer arithmetic as TokenChunkOps.chunk.
      """WITH t AS (
        |  SELECT doc_id, str_split(trim(text), ' ') AS tk,
        |    CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 16 THEN 0 ELSE (n - 16 + 11) // 12 END)) AS k
        |  FROM t)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  array_to_string(tk[(k*12 + 1):least(k*12 + 16, n)], ' ') AS chunk_text,
        |  CAST(least(k*12 + 16, n) - k*12 AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin),

    // Sequence packing: concat-then-chunk into 2048-token bins via the
    // distributed prefix sum (no single-partition window).
    QueryDef("q_pack_bins", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextStats.tokenCount(lower(col("text"))).cast("long").as("n_tokens"))
      Prefix.packBins(d, Seq(col("doc_id")), "n_tokens", 2048L)
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(str_split(trim(lower(text)), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id
        |FROM c""".stripMargin),

    // Packing → actual training sequences: each bin's docs concatenated
    // in doc order with an EOS separator. Per-bin state is budget-
    // bounded (~2048 tokens of text), so the collect_list aggregate is
    // a bounded merge, not a hot-group risk.
    QueryDef("q_pack_concat", (s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          TextStats.tokenCount(lower(col("text"))).cast("long").as("n_tokens"))
      Prefix.packBins(d, Seq(col("doc_id")), "n_tokens", 2048L)
        .groupBy(col("bin_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")),
            "<|eos|>").as("sequence"))
    },
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(str_split(trim(lower(text)), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, text, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |b AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id
        |  FROM c)
        |SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |  string_agg(text, '<|eos|>' ORDER BY doc_id) AS sequence
        |FROM b GROUP BY 1""".stripMargin),

    // [EXT] Dataset-card dashboard: per-source corpus report composing
    // token stats, integer-exact mean quality, exact-dup rate, and
    // language spread in ONE aggregate pass (the multi-distinct Expand
    // is the documented cost, as in q_profile_columns).
    // Determinism: avg_quality_micro and dup_rate_micro are INTEGER
    // micro-units — 6-dp HALF_UP of exact rationals computed ENTIRELY
    // in integer space, round_half_up(a/b, 6dp)·10⁶ =
    // (2·a·10⁶ + b) div (2·b) — and the output carries the BIGINT
    // itself. The former trailing CAST(… AS DOUBLE)/1e6 (r06–r09
    // hash-fail on this very query) is gone: no double ever crosses
    // the hash boundary, so no engine/version cast or division
    // semantics can perturb it. The per-doc quality score is an exact
    // DECIMAL(9,6), so its 10⁶-scaled sum is an exact integer.
    QueryDef("q_corpus_report", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          sum(TextStats.qualityScoreMicro(col("text"))).as("__qsum"),
          countDistinct(TextStats.fingerprint(col("text"))).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("avg_quality_micro",
          expr("CAST((2 * __qsum + n_docs) div (2 * n_docs) AS BIGINT)"))
        .withColumn("dup_rate_micro",
          expr("CAST((2 * (n_docs - n_unique) * 1000000 + n_docs) " +
            "div (2 * n_docs) AS BIGINT)"))
        .select("source", "n_docs", "total_tokens", "avg_quality_micro",
          "n_unique", "n_langs", "dup_rate_micro")
    },
      // Integer micro-unit contract (no DOUBLE crosses the hash): the
      // HALF_UP rationals stay BIGINT on both sides.
      // Double-free: the per-doc quality is summed in its exact-integer
      // micro form directly — no DOUBLE→DECIMAL round-trip whose
      // cast/rounding semantics an engine version could move.
      // total_tokens MUST be cast: DuckDB SUM(BIGINT) returns HUGEINT
      // (int128), which survives to the client as float64 — the r06–r10
      // hash-fail on this query was THAT export type, not the math.
      // Every output column of every oracle must be a type with a
      // faithful int64/float64/bool/str export (tools/exact_check.py
      // now rejects INT128 columns at the gate).
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS total_tokens,
        |  CAST((2 * SUM($qualityMicroSqlExpr) + COUNT(*))
        |    // (2 * COUNT(*)) AS BIGINT) AS avg_quality_micro,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST((2 * (COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 + COUNT(*))
        |    // (2 * COUNT(*)) AS BIGINT) AS dup_rate_micro
        |FROM documents GROUP BY 1""".stripMargin),

    // [EXT] The whole curation intake as ONE plan: Gopher gate →
    // minhash-CC dedup (min-id rep) → split hash; one audited verdict
    // per document.
    QueryDef("q_curation_pipeline", (s, dir) =>
      graft.ext.Curation.disposition(
        Tables.documents(s, dir), "doc_id", "text"),
      // Gopher gate + minhash-CC dedup (min-id representative) + split
      // hash, composed verbatim from the per-gate oracle fragments.
      s"""WITH RECURSIVE $gopherMomentsCtes,
        |mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM mh
        |  UNION SELECT id_b, id_a FROM mh),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
        |  FROM reach GROUP BY s),
        |v AS (
        |  SELECT gm.doc_id, ($gopherPassSql) AS quality_pass,
        |    (COALESCE(c.cluster_rep, gm.doc_id) = gm.doc_id) AS is_canonical
        |  FROM gm LEFT JOIN comp c ON c.id = gm.doc_id)
        |SELECT doc_id, quality_pass, is_canonical,
        |  CASE
        |    WHEN NOT quality_pass THEN 'rejected_quality'
        |    WHEN NOT is_canonical THEN 'rejected_duplicate'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |      THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |      THEN 'val'
        |    ELSE 'test'
        |  END AS disposition
        |FROM v""".stripMargin),

    // [EXT] Gate ablation: per Gopher rule, any-failure vs
    // sole-failure (marginal) document counts — one aggregate pass.
    QueryDef("q_gate_ablation", (s, dir) =>
      graft.ext.Curation.gateAblation(
        TextStats.gopherRules(Tables.documents(s, dir), "doc_id", "text"),
        GopherGates),
      // Per-gate UNION arms generated from the same gate list as the
      // query; counts are exact integers.
      gateAblationOracleSql),

    // [EXT] Fit the quality scorer in-engine: ridge (λ=100) of the
    // exact integer quality micro-score on (tokens, stopwords) via
    // integer normal equations + Cramer trunc-division.
    QueryDef("q_ridge_quality", (s, dir) =>
      graft.ext.Regression.ridgeFit2(
        ridgeFeatures(s, dir), "x1", "x2", "y", lambda = 100L),
      // Integer normal equations in HUGEINT; Cramer determinants in the
      // same fixed cofactor order as Regression.ridgeFit2; λ=100 on the
      // feature diagonal. y is the exact quality micro-score.
      s"""WITH $ridgeFitCtes
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(w0q AS BIGINT) AS w0_q, CAST(w1q AS BIGINT) AS w1_q,
        |  CAST(w2q AS BIGINT) AS w2_q,
        |  CAST(CAST(w0q AS BIGINT) AS DOUBLE) / 1e6 AS w0,
        |  CAST(CAST(w1q AS BIGINT) AS DOUBLE) / 1e6 AS w1,
        |  CAST(CAST(w2q AS BIGINT) AS DOUBLE) / 1e6 AS w2
        |FROM wq""".stripMargin),

    // [EXT] Fit-quality eval of the same model: exact-integer MAE,
    // worst residual, and R² at the 10⁶ grid.
    QueryDef("q_ridge_eval", (s, dir) =>
      graft.ext.Regression.ridgeEval2(
        ridgeFeatures(s, dir), "x1", "x2", "y", lambda = 100L),
      // Scoring pass over the same fit chain: residuals and R-squared
      // in exact HUGEINT trunc arithmetic.
      s"""WITH $ridgeFitCtes,
        |sc AS (
        |  SELECT (w0q + w1q * x1 + w2q * x2 - 1000000 * y) AS err,
        |    1000000 * y AS yp
        |  FROM f CROSS JOIN wq),
        |mm AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(ABS(err)) AS sae,
        |    MAX(ABS(err)) AS mx, SUM(err * err) AS sse,
        |    SUM(yp) AS sy, SUM(yp * yp) AS syy
        |  FROM sc),
        |fin AS (
        |  SELECT n, sae, mx, sse, (n * syy - sy * sy) AS sst FROM mm),
        |r AS (
        |  SELECT n, mx,
        |    (sae - sae % n) // n AS maeq,
        |    (((sst - n * sse) * 1000000)
        |      - ((sst - n * sse) * 1000000) % sst) // sst AS r2q
        |  FROM fin)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(maeq AS BIGINT) AS mae_q,
        |  CAST(mx AS BIGINT) AS max_abs_err_q,
        |  CAST(r2q AS BIGINT) AS r2_q,
        |  CAST(CAST(maeq AS BIGINT) AS DOUBLE) / 1e6 AS mae,
        |  CAST(CAST(r2q AS BIGINT) AS DOUBLE) / 1e6 AS r2
        |FROM r""".stripMargin),
  )
}
