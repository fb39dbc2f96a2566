package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Text analysis for LLM training-data pipelines: token stats,
  * language-ID heuristic, quality scoring, document fingerprints.
  * No reference equivalent (north-star extension per BASELINE.json).
  *
  * Everything here is pure Column expressions — codegen'd, no UDFs — so
  * a 100 TB `documents` scan stays one embarrassingly-parallel stage
  * with full column pruning (only `text` is read when only stats are
  * selected).
  */
object TextStats {

  /** Small multilingual-ish stopword set used by the language heuristic
    * and the quality score. Deliberately tiny and fixed: the point is a
    * deterministic, cheap signal, not linguistic accuracy.
    */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
    "with", "at", "by", "from", "as", "it", "that", "this")

  /** Whitespace tokens of trimmed text (empty text → [""], size 1 — the
    * same contract as DuckDB's `str_split`, which the oracles rely on).
    */
  def tokens(text: Column): Column = split(trim(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars — a cheap stand-in for a real tokenizer's
    * token count.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Fraction of tokens that are English stopwords ∈ [0,1]. Exact
    * integer-ratio division — deterministic across engines.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val stops = filter(tokens(text), t => t.isin(stopwords: _*))
    size(stops).cast("double") / tokenCount(text).cast("double")
  }

  /** N-gram-heuristic language ID: stopword density decides between 'en'
    * and 'unk'. A real system would score several languages' stopword
    * sets; the shape (per-language density → argmax) is the same.
    */
  def langId(text: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(text) >= threshold, lit("en")).otherwise(lit("unk"))

  /** Quality score ∈ [0,1]: length saturation + stopword naturalness,
    * at a fixed 6-dp precision. Components and weights are fixed so
    * the score is reproducible.
    *
    * Defined EXACTLY, in integers: with t = tokens, sw = stopwords,
    *   score·10⁶ = 7000·min(t,100) + halfup(300000·sw / t)
    * (the first addend is min(1,t/100)·0.7·10⁶, exactly an integer;
    * the second is (sw/t)·0.3·10⁶ rounded half-up as
    * ⌊(600000·sw + t)/(2t)⌋), then one exact ÷10⁶ into double. The
    * earlier `round(double·0.7 + double·0.3, 6)` formulation was the
    * r06 `q_corpus_report` hash-fail: Spark rounds the double's
    * SHORTEST DECIMAL repr half-up while other engines round the
    * scaled binary value, and a score landing on a half boundary
    * splits them. Integer half-up has no engine-dependent tie.
    *
    * The interior floor-of-double-division is exact: numerator
    * < 6·10⁵·t and denominator 2t keep the true quotient ≤ 3·10⁵,
    * where a non-exact quotient is ≥ 1/(2t) ≫ 1 ulp away from any
    * integer, so the correctly-rounded IEEE quotient can never cross
    * one — every engine floors to the same integer (the mirrored
    * oracles use native integer `//`, same value).
    */
  def qualityScore(text: Column): Column =
    qualityScoreMicro(text).cast("double") / lit(1e6)

  /** The exact-integer form score·10⁶ (see [[qualityScore]]) — the
    * column to use when the score feeds further exact arithmetic
    * (e.g. [[graft.ext.Regression.ridgeFit2]] targets).
    */
  def qualityScoreMicro(text: Column): Column = {
    val t = tokenCount(text).cast("long")
    val sw = size(filter(tokens(text), w => w.isin(enStopwords: _*)))
      .cast("long")
    lit(7000L) * least(t, lit(100L)) +
      floor((lit(600000L) * sw + t).cast("double") /
        (lit(2L) * t).cast("double")).cast("long")
  }

  /** The Gopher rule-set stopword probe (Rae et al. '21, A1.1): a doc
    * must contain at least two of these eight function words.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule bundle (Rae et al. '21 Appendix A1.1,
    * bounds adapted to the synthetic corpus's short documents): the
    * canonical pretraining hygiene filter, one flag per rule plus the
    * conjunction. Every rule is an INTEGER comparison (mean word
    * length as `3w <= chars <= 10w`, ratios cross-multiplied), so the
    * verdicts are exact in any engine — no float thresholds.
    *
    *   rule_words     5 <= word count <= 1000
    *   rule_mean_len  mean word length in [3, 10]
    *   rule_symbols   words containing '#' or ellipsis <= 10%
    *   rule_alpha     >= 80% of words contain a letter
    *   rule_stopwords >= 2 of the 8 Gopher stopwords (with repeats)
    *
    * Pure projection — zero shuffles; the flags are codegen'd
    * higher-order-function counts over one tokenize.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = split(trim(lower(col(textCol))), " ")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(tk).cast("long").as("n_words"),
        aggregate(transform(tk, t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("__chars"),
        size(filter(tk, t => t.contains("#") || t.contains("…")))
          .cast("long").as("__sym"),
        size(filter(tk, t => t.rlike("[a-z]"))).cast("long").as("__alpha"),
        size(filter(tk, t => t.isin(gopherStopwords: _*)))
          .cast("long").as("__stop"))
      .select(col(idCol), col("n_words"),
        col("n_words").between(5L, 1000L).as("rule_words"),
        (col("__chars") >= col("n_words") * 3 &&
          col("__chars") <= col("n_words") * 10).as("rule_mean_len"),
        (col("__sym") * 10 <= col("n_words")).as("rule_symbols"),
        (col("__alpha") * 5 >= col("n_words") * 4).as("rule_alpha"),
        (col("__stop") >= 2).as("rule_stopwords"))
      .withColumn("pass",
        col("rule_words") && col("rule_mean_len") && col("rule_symbols") &&
          col("rule_alpha") && col("rule_stopwords"))
  }

  /** Exact content fingerprint (md5 of utf-8 bytes). */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Normalized fingerprint: md5 over the sorted distinct lowercase
    * token set — equal for token-permuted / duplicated-token documents
    * (bag-of-words canonical form).
    */
  def normalizedFingerprint(text: Column): Column =
    md5(array_join(
      array_sort(array_distinct(split(lower(trim(text)), " "))), " ")
      .cast("binary"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS rolling-hash algorithm): hash every POSITIONAL k-token gram,
    * slide a window of `w` consecutive gram hashes, keep each window's
    * minimum; the distinct selected hashes are the document's
    * fingerprint set. Guarantee: two documents sharing any token run of
    * length >= k + w - 1 share at least one fingerprint — the partial-
    * overlap detector that whole-document hashes can't provide.
    *
    * Scale shape: one shuffle keyed on the doc id; every window
    * (k-gram lead, count, row_number, min-over-frame) shares that
    * partitioning, and partitions are single documents — bounded work
    * per doc at any corpus size. The gram hash is the portable
    * [[graft.functions.Md5Ops]], so the whole operator is
    * oracle-checkable in DuckDB.
    *
    * Output: (idCol, fp) — one row per distinct selected hash. Documents
    * shorter than k tokens have no k-gram and produce no rows.
    */
  /** Token-window document chunking — the RAG/embedding prep step.
    * Splits each document into `chunkSize`-token windows advancing by
    * `chunkSize - overlap` tokens, so neighbors share `overlap` tokens
    * of context. Pure projection + explode (the chunker is the
    * codegen'd [[graft.functions.TokenChunkOps]] kernel): no
    * shuffle, corpus chunking parallelizes with the scan.
    *
    * Output: every input column (chunks inherit their document's
    * metadata — provenance survives the explode) plus chunk_id
    * (0-based), chunk_text, n_chunk_tokens. Original-case text
    * (chunking is payload prep, not normalization); drop `textCol`
    * afterwards if the full document shouldn't ride along.
    */
  def tokenWindowChunks(
      docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame =
    docs
      .select(col("*"),
        posexplode(graft.functions.TextExprs.tokenChunks(
          col(textCol), chunkSize, overlap)).as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("n_chunk_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))

  /** Gopher-style repetition quality signals, adapted to single-line
    * documents (the corpus has no newlines, so the paper's
    * duplicate-LINE fractions become token/bigram fractions):
    *
    *   - `top_token_frac`  — occurrences of the most frequent token /
    *     total tokens (paper: "fraction of characters in most common
    *     word-ngram", n=1 case)
    *   - `dup_token_frac`  — 1 − distinct/total tokens
    *   - `dup_bigram_frac` — 1 − distinct/total word bigrams (null for
    *     single-token docs, which have no bigram)
    *
    * High values mark boilerplate / degenerate repetition for filtering.
    *
    * Scale shape: distinct counts are pure projections (`array_distinct`
    * sizes — no shuffle); only the per-doc token mode needs aggregation,
    * and that is (doc, token)-keyed with map-side combine, then a
    * doc-keyed max — both shuffles carry one row per distinct pair/doc,
    * never the corpus text. The final join is doc-keyed, 1:1.
    */
  def repetitionMetrics(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val proj = docs.select(
      col(idCol),
      tokenCount(lower(col(textCol))).cast("long").as("n_tokens"),
      uniqueTokenCount(lower(col(textCol))).cast("long").as("__n_distinct"),
      size(graft.functions.TextExprs.wordShingles(col(textCol), 2))
        .cast("long").as("__n_distinct_bigrams"))
    val topCount = docs
      .select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__top_c"))
    proj.join(topCount, Seq(idCol))
      .select(
        col(idCol),
        col("n_tokens"),
        round(col("__top_c").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_token_frac"),
        round(lit(1.0) - col("__n_distinct").cast("double")
          / col("n_tokens").cast("double"), 6).as("dup_token_frac"),
        when(col("n_tokens") > 1,
          round(lit(1.0) - col("__n_distinct_bigrams").cast("double")
            / (col("n_tokens") - 1).cast("double"), 6)).as("dup_bigram_frac"))
  }

  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    // Positional k-gram via k-1 lead()s (no HOF lambdas): gram at pos i
    // is toks[i..i+k-1], present only while the last member exists.
    val gramCols = (0 until k).map {
      case 0 => col("__tok")
      case j => lead(col("__tok"), j).over(byPos)
    }
    val grams = docs
      .select(col(idCol),
        posexplode(tokens(lower(col(textCol)))).as(Seq("__pos", "__tok")))
      .withColumn("__last", gramCols.last)
      .withColumn("__h",
        graft.functions.HashExprs.md5Prefix60(concat_ws(" ", gramCols: _*)))
      .filter(col("__last").isNotNull)
    // Select window minima only at full-window start positions (the
    // last m-w+1 .. m starts are clipped windows); a doc with fewer
    // than w grams is one whole window so it still yields >=1 print.
    val frame = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val all = Window.partitionBy(col(idCol))
    grams
      .withColumn("__m", count(lit(1)).over(all))
      .withColumn("__r", row_number().over(byPos))
      .withColumn("__fp", min(col("__h")).over(frame))
      .filter(col("__r") <= greatest(lit(1), col("__m") - (w - 1)))
      .select(col(idCol), col("__fp").as("fp"))
      .distinct()
  }
}
