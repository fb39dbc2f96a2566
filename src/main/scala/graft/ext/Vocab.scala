package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus vocabulary and term weighting for LLM training-data
  * pipelines. No reference equivalent (north-star extension).
  *
  * Scale shape: everything is explode → hash-aggregate. The token
  * shuffle is keyed on the term (bounded by vocabulary size, not corpus
  * size) or on (doc, term) with map-side combine; top-N selection is
  * `orderBy.limit` → TakeOrderedAndProject (each partition keeps N, the
  * driver merges N·partitions rows — no global sort).
  */
object Vocab {

  private def tokens(text: Column): Column = split(trim(lower(text)), " ")

  /** Top-`k` vocabulary: one row per distinct token with total
    * occurrences and document frequency, ordered by (occurrences desc,
    * token asc).
    *
    * Two-level aggregation instead of `count` + `countDistinct` in one
    * `agg` (which would plan an Expand that doubles the exploded
    * stream): first collapse to (token, doc) partial counts — map-side
    * combinable — then one bounded-key aggregate over the collapsed
    * frame.
    */
  def topVocabulary(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    vocabCounts(docs, idCol, textCol)
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(k)

  /** Full vocabulary frame (token, occurrences, doc_freq) — the
    * pre-selection stage shared by [[topVocabulary]] and [[zipfFit]].
    */
  private def vocabCounts(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("__id"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(sum(col("__c")).as("occurrences"),
        count(lit(1)).as("doc_freq"))

  /** Unigram-LM surprisal per document — the perplexity-proxy quality
    * filter of CCNet-style pipelines: score = mean over the document's
    * tokens of −ln p(token), with p estimated from the corpus itself
    * (count/total). Low surprisal ⇒ common boilerplate; high ⇒ rare
    * junk; the middle band is "natural" text.
    *
    * Determinism across engines: each term's −ln p is rounded to 6 dp
    * FIRST, then the per-doc total is summed as DECIMAL(18,6) — exact
    * and associative, so Spark's partial-aggregation order cannot
    * drift a single ulp from the oracle's sequential sum (the same
    * trick as the decimal revenue rollup). Term counts are a
    * count-window over the (doc, term) tf frame, like [[topTfIdfTerm]];
    * the scalar token total is a second count-only pass (scan + explode
    * + 1-row aggregate, no shuffle) — cheaper than re-running the tf
    * aggregate, which exchange reuse would not dedupe anyway.
    *
    * Output: (idCol, n_tokens, surprisal) — surprisal rounded 6 dp.
    */
  def unigramSurprisal(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    val total = docs
      .select(explode(tokens(col(textCol))).as("__t"))
      .agg(count(lit(1)).as("__total"))
    tf.withColumn("__cnt", sum(col("tf")).over(byTerm))
      .crossJoin(broadcast(total))
      .withColumn("__term_nll",
        round(-log(col("__cnt").cast("double") / col("__total").cast("double")), 6))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("decimal(18,6)") *
          col("__term_nll").cast("decimal(18,6)")).as("__nll_sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("__nll_sum").cast("double") / col("n_tokens"), 6)
          .as("surprisal"))
  }

  /** Per-document unigram PERPLEXITY — `exp(surprisal)`, the unit
    * model-quality people actually quote (CCNet reports Wikipedia-LM
    * perplexity, not mean nll). The exp is
    * [[graft.functions.DetMath.expq]]: the same only-correctly-
    * rounded-IEEE-ops discipline as the deterministic ln, so the
    * doubles are bit-identical cross-engine with no rounding step —
    * the first consumer of the expq kernel.
    */
  def docPerplexity(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramSurprisal(docs, idCol, textCol)
      .withColumn("perplexity",
        graft.functions.DetMath.expq(col("surprisal")))

  /** HELD-OUT perplexity — the methodologically-honest version of
    * [[docPerplexity]]: that one scores every document under a model
    * fit on the whole corpus (fine as a relative quality signal,
    * biased as an eval — each doc helped train its own model). Here
    * the corpus hash-splits (portable md5 gate, `trainPct`%), an
    * add-1-smoothed unigram LM fits on TRAIN tokens only, and only
    * TEST documents are scored — unseen terms get the reserved-mass
    * probability 1/(N+V+1).
    *
    * Exactness (the DSIR discipline): each term's nll is ONE
    * [[graft.functions.DetMath.lnq]] on the exact integer ratio
    * (N+V+1)/(c+1), floor-quantized to ⌊ln·10⁹⌋; per-doc totals are
    * exact integer sums; the mean and its expq are fixed IEEE trees.
    *
    * Scale shape: the model table is vocabulary-bounded and broadcast
    * into the scoring pass; two tokenize passes (fit + score), one
    * doc-keyed aggregate.
    */
  def heldOutPerplexity(
      docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int = 80): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"bad trainPct: $trainPct")
    val isTrain = graft.ext.Sampling.hashGate(col(idCol), lit(trainPct))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), isTrain.as("__train"),
        explode(tokens(col(textCol))).as("term"))
    val counts = toks.filter(col("__train"))
      .groupBy(col("term")).agg(count(lit(1)).as("__c"))
    val model = counts.agg(
      sum(col("__c")).as("__N"), count(lit(1)).as("__V"))
      .withColumn("__M", col("__N") + col("__V") + lit(1L))
    val lam = counts.crossJoin(broadcast(model))
      .select(col("term"),
        floor(graft.functions.DetMath.lnq(
          col("__M").cast("double") / (col("__c") + lit(1L)).cast("double"))
          * lit(1e9)).cast("long").as("__lam"))
    val lam0 = model.select(
      floor(graft.functions.DetMath.lnq(col("__M").cast("double"))
        * lit(1e9)).cast("long").as("__lam0"))
    toks.filter(!col("__train"))
      .join(broadcast(lam), Seq("term"), "left")
      .crossJoin(broadcast(lam0))
      .select(col(idCol), coalesce(col("__lam"), col("__lam0")).as("__q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__q")).as("__sq"))
      .withColumn("surprisal",
        (col("__sq").cast("double") / lit(1e9)) /
          col("n_tokens").cast("double"))
      .withColumn("perplexity",
        graft.functions.DetMath.expq(col("surprisal")))
      .select(idCol, "n_tokens", "surprisal", "perplexity")
  }

  /** Per-document top term by TF-IDF: score = tf · ln(N / df), rounded
    * to 6 dp in-engine (cross-engine float determinism — see the oracle
    * conventions in SparkEntry). Rank ties break by term asc; exactly
    * one row per document that has at least one token.
    *
    * N (corpus document count) is a one-row aggregate broadcast into
    * the score projection. df is a COUNT WINDOW over the (doc, term)
    * tf frame partitioned by term — NOT a groupBy + self-join, which
    * Catalyst plans as a second full scan+explode of the corpus (AQE
    * exchange reuse does not fire across the aggregate; verified on
    * the executed plan). One corpus tokenize pass total; the argmax is
    * a WindowGroupLimit (rank-1 prune before and after its shuffle).
    */
  def topTfIdfTerm(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val byTerm = Window.partitionBy(col("term"))
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("__n").cast("double") / col("df").cast("double")), 6))
      .withColumn("__r", row_number().over(byDoc))
      .filter(col("__r") === 1)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 keyword retrieval: score every document against a fixed
    * bag-of-terms query, return the global top `k` by score. The
    * classic lexical-search ranking (Robertson–Spärck Jones; the
    * Lucene-style `ln(1 + (N - df + 0.5)/(df + 0.5))` idf, which is
    * never negative), computable exactly from corpus counts:
    *
    *   score(d, Q) = Σ_{t ∈ Q} idf(t) · tf(t,d)·(k1+1)
    *                   / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *
    * Every input to the formula (tf, df, N, |d|, Σ|d|) is an exact
    * integer aggregate, so the double-math score is reproducible
    * cross-engine; it is rounded to 6 dp BEFORE ranking (ties break by
    * doc id) — the same decide-on-rounded convention as the LSH/IVF
    * pipelines.
    *
    * Scale shape: one tokenize pass; per-doc length and per-(doc,
    * query-term) tf are map-side-combinable aggregates; df rides a
    * window over the tiny tf frame (≤ |Q| terms per doc); N/avgdl is a
    * one-row broadcast; the final top-k is the bounded-heap
    * [[graft.functions.TopKAgg]] — no global sort, ≤ k rows per map
    * task through the shuffle.
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    // |d| is size(tokens) — a projection, NOT a second explode +
    // count-per-doc aggregate (which would shuffle the whole token
    // stream a second time). Null-text docs carry no tokens on either
    // path: explode emits nothing, and the filter drops them here.
    val dl = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("__dl"))
    val stats = dl.agg(
      count(lit(1)).as("__n"), sum(col("__dl")).as("__tot"))
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val df_ = count(lit(1)).over(Window.partitionBy(col("term")))
    val scored = tf
      .withColumn("__df", df_)
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__tot").cast("double") / col("__n").cast("double"))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5))))
      .withColumn("__s",
        col("__idf") * col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 6).as("__score"))
    // Guarded id cast (the Sampling.quotaCap discipline): a string doc
    // id would cast to null and TopKAgg would silently skip EVERY row,
    // returning an empty result with no error. Genuinely-null ids keep
    // the skip semantics; non-integral ids fail loudly.
    val idLong = {
      val v = col(idCol).cast("long")
      when(col(idCol).isNotNull && v.isNull, raise_error(concat(
        lit("bm25TopK: id not integral: "), col(idCol).cast("string"),
        lit(" — map ids to longs first (or use topKStr)"))))
        .otherwise(v)
    }
    val topk = graft.functions.TopKAgg.topK(col("__score"), idLong, k)
    scored.agg(topk.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(
        col("__e.id").as(idCol),
        col("__e.score").as("score"),
        (col("__p") + 1).cast("long").as("rank"))
  }

  /** Zipf fit — OLS slope of ln(frequency) against ln(rank) over the
    * top-`k` vocabulary. Natural language sits near slope ≈ −1
    * (Zipf's law); a corpus that drifts toward 0 is template/boiler-
    * plate-heavy, one that steepens far past −1 has had its tail
    * amputated (over-aggressive dedup or filtering). One number per
    * corpus for the dataset card, like [[graft.ext.Drift.psi]] is for
    * distributions.
    *
    * Determinism: ranks come from the deterministic (occurrences desc,
    * token asc) order; each ln() is rounded to 6 dp and the regression
    * moments are exact DECIMAL sums of those rounded values (the
    * [[Analytics.linearTrend]] discipline), so the closed-form fit is
    * bit-identical cross-engine. The top-k selection + rank is the
    * bounded-heap [[graft.functions.TopKAgg.topKStr]] (array position
    * = rank − 1) — ≤ k entries per map task, NO rank window at all, so
    * the selection survives any vocabulary cardinality.
    *
    * Output: one row (n_terms, slope, intercept), 6 dp.
    */
  def zipfFit(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 100): DataFrame = {
    // occurrences < 2^53: the heap's double score is the exact count.
    val ranked = vocabCounts(docs, idCol, textCol)
      .agg(graft.functions.TopKAgg.topKStr(
        col("occurrences").cast("double"), col("token"), k).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select((col("__p") + 1).cast("long").as("__rank"),
        col("__e.score").as("__occ"))
    val x = round(log(col("__rank").cast("double")), 6)
      .cast("decimal(18,6)")
    val y = round(log(col("__occ")), 6)
      .cast("decimal(18,6)")
    ranked
      .agg(
        count(lit(1)).as("n_terms"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * x).as("__sxx"), sum(x * y).as("__sxy"))
      .select(
        col("n_terms"),
        round(
          (col("n_terms") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            (col("n_terms") * col("__sxx").cast("double") -
              col("__sx").cast("double") * col("__sx").cast("double")), 6)
          .as("slope"),
        round(
          (col("__sy").cast("double") -
            ((col("n_terms") * col("__sxy").cast("double") -
              col("__sx").cast("double") * col("__sy").cast("double")) /
              (col("n_terms") * col("__sxx").cast("double") -
                col("__sx").cast("double") * col("__sx").cast("double"))) *
              col("__sx").cast("double")) / col("n_terms"), 6)
          .as("intercept"))
  }

  /** Hashing-trick featurization (HashingVectorizer / Vowpal-Wabbit
    * style): every token maps to `hash(token) mod numBuckets` — a
    * FIXED feature space with no vocabulary table, no fit step, no
    * driver state, which is what makes it the featurizer that
    * survives 100 TB (a learned vocab of a trillion-token corpus is
    * itself a big-data problem; the hash needs nothing). Output is the
    * sparse form (id, bucket, cnt) — one row per document × live
    * bucket, ready for a pivot or a sparse-vector assembler.
    *
    * The hash is the portable md5-prefix ([[graft.ext.Sampling]]'s
    * gate convention): bit-identically computable in any engine with
    * md5, so the bucketing is auditable cross-engine — unlike
    * xxhash/murmur whose seeds are engine-internal.
    *
    * Scale shape: explode → one (id, bucket)-keyed count aggregate,
    * map-side combinable; the shuffle key is bounded by
    * |docs| × numBuckets, not token count.
    */
  def hashedFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        (graft.functions.HashExprs.md5Prefix60(col("__t")) % numBuckets)
          .as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Bigram-LM surprisal per document — one model order up from
    * [[unigramSurprisal]], and a materially sharper quality filter:
    * boilerplate has predictable next-tokens (low conditional
    * surprisal) even when its unigrams are rare, and shuffled-word
    * junk has high conditional surprisal even when its unigrams are
    * common. Score = mean over the document's bigram positions of
    *   −ln P(w₂|w₁),  P(w₂|w₁) = C(w₁,w₂) / C(w₁·)
    * with counts estimated from the corpus itself (MLE). No smoothing
    * is needed: every scored bigram occurs in the corpus at least once
    * (the document being scored contributes it), so P > 0 always.
    *
    * Determinism: same decimal-sum discipline as [[unigramSurprisal]]
    * — each bigram's −ln p is rounded to 6 dp first, the per-doc
    * accumulation is exact DECIMAL(18,6), so partial-aggregation order
    * cannot drift the result.
    *
    * Scale shape: one tokenize+explode pass keyed on (doc, w₁, w₂)
    * with map-side combine — bigram generation is the codegen'd
    * [[graft.functions.WordBigramOps]] kernel (ONE tokenize per doc; the
    * composable transform/sequence/element_at form is an interpreted
    * HOF that re-splits the text three times per row); C(w₁,w₂) and
    * the context total C(w₁·) are two sum-windows over that tf frame —
    * the w₁-window is planned FIRST so its hash exchange (on w₁ alone)
    * also satisfies the (w₁,w₂) window's clustering and Catalyst runs
    * both on a single shuffle (sort-only between them); then one
    * doc-keyed aggregate. Documents with fewer than two tokens have no
    * bigram positions and drop out (mirroring the oracle).
    */
  /** PMI collocations — the phrase-mining primitive (word2vec-style
    * phrase detection, Mikolov et al. 2013): word pairs that co-occur
    * far more often than their marginal frequencies predict are
    * phrases ("new york"), and a training pipeline promotes them to
    * single tokens before building a vocabulary.
    *
    *   PMI(w₁,w₂) = ln( C₁₂ · N / (C₁· · C·₂) )
    *
    * over the corpus's bigram positions: C₁₂ = count of the pair,
    * C₁· / C·₂ = the left/right positional marginals, N = total bigram
    * positions. Pairs below `minCount` are noise (a hapax pair with two
    * rare words gets an enormous PMI) and are dropped BEFORE ranking —
    * the standard phrase-mining floor.
    *
    * Output: top-`k` rows (w1, w2, pair_count, left_count, right_count,
    * pmi) by (pmi desc, w1 asc, w2 asc).
    *
    * Determinism: all five counts are exact integers; the PMI is one
    * double expression over them — `(C₁₂·N) / (C₁·C·₂)` evaluated in
    * the same shape in both engines — rounded to 6 dp, and the rank
    * compares the ROUNDED score with a full lexical tie-break, so a
    * cross-engine ln() ulp cannot flip the ordering.
    *
    * Scale shape: one codegen'd bigram explode ([[graft.functions.WordBigramOps]],
    * ONE tokenize per doc) → hash aggregate keyed on (w₁,w₂) — bounded
    * by distinct pairs, map-side combinable. Marginals are two
    * sum-windows over that collapsed pair frame (vocabulary-bounded,
    * never the raw token stream); N rides a one-row broadcast. Top-k is
    * `orderBy.limit` → TakeOrderedAndProject (per-partition heaps, no
    * global sort, no single-partition window).
    */
  def pmiCollocations(
      docs: DataFrame, textCol: String,
      minCount: Long = 3L, k: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val pairs = docs
      .filter(col(textCol).isNotNull)
      .select(explode(graft.functions.TextExprs.wordBigrams(col(textCol)))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
    val totals = pairs.agg(sum(col("pair_count")).as("__n"))
    val byLeft = Window.partitionBy(col("w1"))
    val byRight = Window.partitionBy(col("w2"))
    pairs
      .withColumn("left_count", sum(col("pair_count")).over(byLeft))
      .withColumn("right_count", sum(col("pair_count")).over(byRight))
      .filter(col("pair_count") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("pair_count"),
        col("left_count"), col("right_count"),
        round(log((col("pair_count").cast("double") * col("__n").cast("double"))
          / (col("left_count").cast("double") * col("right_count").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def bigramSurprisal(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(graft.functions.TextExprs.wordBigrams(col(textCol)))
          .as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val byCtx = Window.partitionBy(col("w1"))
    val byBigram = Window.partitionBy(col("w1"), col("w2"))
    tf
      .withColumn("__c1", sum(col("tf")).over(byCtx))
      .withColumn("__c2", sum(col("tf")).over(byBigram))
      .withColumn("__nll",
        round(-log(col("__c2").cast("double") / col("__c1").cast("double")), 6))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(col("tf").cast("decimal(18,6)") *
          col("__nll").cast("decimal(18,6)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast("double") / col("n_bigrams"), 6)
          .as("bigram_surprisal"))
  }

  /** Pairwise smoothed unigram-LM KL divergence between sources — the
    * "which sources speak the same language" matrix a mixture designer
    * reads next to the shingle-overlap grid (q_source_overlap measures
    * shared CONTENT; this measures shared STYLE/distribution even with
    * zero verbatim overlap). KL(a‖b) = Σ_t p_a(t)·ln(p_a(t)/p_b(t)),
    * add-1 smoothed over the joint vocabulary.
    *
    * Exactness (the PSI/DSIR discipline): the log ratio collapses to
    * ONE deterministic-ln on the exact integer ratio
    * ((c_a+1)(n_b+V)) / ((n_a+V)(c_b+1)); each term is then
    * ⌊p_a·ln·10¹²⌋ — an exact integer — and the per-pair sum is
    * order-free. Valid while the integer products stay < 2⁵³
    * (per-source token totals ≲ 10⁷·√V; beyond that, pre-scale).
    *
    * Scale shape: the grid is |vocab| × |sources| and the pair join is
    * term-keyed with an S² per-term blowup — bounded by SOURCE
    * cardinality squared, never corpus size. Output: S·(S−1) rows.
    */
  def sourceKlMatrix(
      docs: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val tc = docs
      .filter(col(strataCol).isNotNull && col(textCol).isNotNull)
      .select(col(strataCol).as("src"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("src"), col("term")).agg(count(lit(1)).as("c"))
    val terms = tc.select(col("term")).distinct()
    val totals = tc.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val vocabN = terms.agg(count(lit(1)).as("v"))
    val grid = totals.crossJoin(terms)
      .join(tc, Seq("src", "term"), "left")
      .crossJoin(broadcast(vocabN))
      .select(col("src"), col("term"), coalesce(col("c"), lit(0L)).as("c"),
        col("n"), col("v"))
    val a = grid.select(col("src").as("source_a"), col("term"),
      col("c").as("__ca"), col("n").as("__na"), col("v").as("__v"))
    val b = grid.select(col("src").as("source_b"), col("term"),
      col("c").as("__cb"), col("n").as("__nb"))
    a.join(b, Seq("term"))
      .filter(col("source_a") =!= col("source_b"))
      .withColumn("__x",
        ((col("__ca") + 1) * (col("__nb") + col("__v"))).cast("double") /
          ((col("__na") + col("__v")) * (col("__cb") + 1)).cast("double"))
      .withColumn("__pa",
        (col("__ca") + 1).cast("double") /
          (col("__na") + col("__v")).cast("double"))
      .withColumn("__t",
        floor(col("__pa") * graft.functions.DetMath.lnq(col("__x")) *
          lit(1e12)).cast("long"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("__t")).as("kl_q"))
      .withColumn("kl", col("kl_q").cast("double") / lit(1e12))
  }

  /** Out-of-vocabulary rate per document under the corpus top-`k`
    * vocabulary — the cheap "is this doc made of normal words" signal
    * (junk, foreign-language and mojibake docs spike it) that a
    * curation run computes before anything model-based. The vocab cut
    * is deterministic: (occurrences desc, token asc) — a total order,
    * so the boundary tie cannot wobble.
    *
    * Scale shape: one corpus tokenize for the counts (term-keyed,
    * map-side combined), a bounded top-k (TakeOrderedAndProject), the
    * vocab broadcast back into a second tokenize pass, and a doc-keyed
    * aggregate. OOV rate is an exact integer ratio.
    */
  def oovRate(
      docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(true).as("__iv"))
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .join(broadcast(counts), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC'20 —
    * reference repo has no analog): score every document with the
    * corpus unigram-LM surprisal, cut the corpus into head / middle /
    * tail TERTILES of that score (lowest surprisal = head, the
    * highest-confidence slice), and report the bucket composition per
    * `byCol` (e.g. source) — the table a curation run reads before
    * deciding which tail slices to drop.
    *
    * Determinism: buckets are INTEGER comparisons on the global
    * ordinal rank r over (surprisal rounded 6 dp, doc id) —
    * `3r <= n` → head, `3r <= 2n` → middle — so the cut is exact at
    * any corpus size, no float percentile is compared. The rank is
    * [[graft.plans.Ordinal.withGlobalRowNumber]] (range shuffle +
    * carry, no single-partition window); n rides in as a one-row
    * broadcast.
    *
    * Output: (`byCol`, bucket, n_docs, sum_tokens), docs with no
    * tokens excluded (they have no surprisal — gate them on length
    * upstream).
    */
  def perplexityBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      byCol: String): DataFrame = {
    val surp = unigramSurprisal(docs, idCol, textCol)
    val ranked = graft.plans.Ordinal.withGlobalRowNumber(
      surp, Seq(col("surprisal"), col(idCol)), "__r")
    val n = surp.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket",
        when(col("__r") * 3 <= col("__n"), lit("head"))
          .when(col("__r") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .join(docs.select(col(idCol), col(byCol)), Seq(idCol))
      .groupBy(col(byCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** BM25 with RM3-style pseudo-relevance feedback (Lavrenko & Croft
    * '01 lineage; the standard "no relevance labels" query expansion):
    * retrieve once, mine the top `fbDocs` documents for their
    * `fbTerms` most frequent non-query terms (count desc, term asc —
    * a total order), append them to the query, retrieve again. Lexical
    * recall goes up without any model — the classic complement to the
    * dense retrievers ([[graft.ext.Similarity]]) that RRF fusion
    * combines.
    *
    * The expansion term set is data-dependent but TINY (`fbTerms`
    * rows) — collected once (the IVF-centroid class of driver state)
    * and inlined as literals into the second [[bm25TopK]] pass; the
    * oracle derives the same set purely in SQL. Output: the second
    * pass's top-`k` plus `expanded_with` (comma-joined sorted
    * expansion terms — the audit column).
    */
  def bm25Rm3(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      fbDocs: Int = 5, fbTerms: Int = 3): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, "fbDocs and fbTerms must be >= 1")
    val round1 = bm25TopK(docs, idCol, textCol, queryTerms, fbDocs)
    val expansion: Seq[String] = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .join(round1.select(col(idCol)), Seq(idCol))
      .filter(!col("term").isin(queryTerms: _*) && length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term").asc)
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    bm25TopK(docs, idCol, textCol, queryTerms ++ expansion, k)
      .withColumn("expanded_with", lit(expansion.sorted.mkString(",")))
  }

  /** Interpolated Kneser–Ney bigram language model (Kneser & Ney '95,
    * the standard n-gram smoothing; the reference repo has no LM at
    * all — north-star extension). Produces the trained model table:
    * one row per observed bigram type with its smoothed conditional
    * probability
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0) / c(w1·)
    *            + (D · N1+(w1,·) / c(w1·)) · (N1+(·,w2) / B)
    *
    * with absolute discount D = 0.75 (exactly representable in
    * binary64) and the continuation distribution N1+(·,w2)/B over
    * distinct-left-context counts — the thing that separates KN from
    * naive backoff (frequent-but-context-narrow words like "Francisco"
    * get LOW continuation mass).
    *
    * Cross-engine exactness: every input is an exact integer count;
    * the probability is a FIXED tree of correctly-rounded IEEE ops
    * (two products, three quotients, one sum) mirrored op-for-op in
    * the oracle SQL, so the double is bit-identical with no rounding
    * step at all — no ln anywhere (the [[graft.functions.DetMath]]
    * class of risk does not arise).
    *
    * Scale shape: one corpus tokenize collapses to the bigram-TYPE
    * table (vocabulary-bounded, map-side combined); the three count
    * statistics are windows over w1 / w2 on that type table — skew
    * bounded by vocabulary, never corpus size; B is a one-row
    * broadcast. Output rows = distinct bigram types.
    */
  def kneserNeyBigram(
      docs: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val pairs = docs
      .filter(col(textCol).isNotNull)
      .select(explode(graft.functions.TextExprs.wordBigrams(col(textCol)))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val types = pairs.agg(count(lit(1)).as("__bb"))
    val byLeft = Window.partitionBy(col("w1"))
    val byRight = Window.partitionBy(col("w2"))
    val d = lit(0.75)
    val c1d = col("__c1").cast("double")
    pairs
      // distinct-type rows, so COUNT(*) over the window IS N1+.
      .withColumn("__c1", sum(col("c")).over(byLeft))
      .withColumn("__n1f", count(lit(1)).over(byLeft))
      .withColumn("__n1b", count(lit(1)).over(byRight))
      .crossJoin(broadcast(types))
      .filter(col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c"),
        col("__c1").as("c_w1"), col("__n1f").as("n1p_fwd"),
        col("__n1b").as("n1p_bwd"),
        (greatest(col("c").cast("double") - d, lit(0.0)) / c1d +
          ((d * col("__n1f").cast("double")) / c1d) *
            (col("__n1b").cast("double") / col("__bb").cast("double")))
          .as("p_kn"))
  }

  /** Heaps'-law vocabulary-growth fit V(n) = K·n^β over the corpus in
    * doc-id (train) order — the companion diagnostic to [[zipfFit]]:
    * β well below ~0.8 on natural text, spiking toward 1 on random /
    * junk token streams (every token new) and collapsing toward 0 on
    * template spam. A mixture designer reads (zipf slope, heaps β)
    * together as the two-number corpus health card.
    *
    * Plan: one tokenize pass yields per-doc token counts AND each
    * term's first-arrival doc (min doc id per term); both collapse
    * onto the per-doc frame, [[graft.plans.Prefix.withRunningSums]]
    * turns them into (cumulative tokens, cumulative vocabulary) in ONE
    * range shuffle — a checkpoint per document, no single-partition
    * window. The OLS of ln V on ln n is EXACT-INTEGER end to end:
    * each ln is [[graft.functions.DetMath.lnq]] (bit-identical
    * cross-engine) floor-quantized to ⌊ln·10⁶⌋, moments are exact
    * DECIMAL(38,0) sums of those integers, and the closed form is
    * Cramer-style trunc-division ([[graft.ext.Regression]]'s
    * discipline) — the 10⁶ quantization cancels in β, so no
    * decimal→double cast of a > 2⁵³ value ever happens.
    *
    * Output: one row (n_docs, beta_q, ln_k_q, beta, ln_k) with the
    * `_q` columns exact integers at 10⁶ quantization.
    */
  def heapsFit(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val perDoc = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"))
    val firstSeen = tok.groupBy(col("term"))
      .agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nv"))
    val curve = graft.plans.Prefix.withRunningSums(
      perDoc.join(firstSeen, Seq(idCol), "left")
        .select(col(idCol), col("__nt"),
          coalesce(col("__nv"), lit(0L)).as("__nv")),
      Seq(col(idCol)),
      Seq("__nt" -> "cum_tokens", "__nv" -> "cum_vocab"))
    val dec = "decimal(38,0)"
    val x = floor(graft.functions.DetMath.lnq(
      col("cum_tokens").cast("double")) * lit(1e6)).cast(dec)
    val y = floor(graft.functions.DetMath.lnq(
      col("cum_vocab").cast("double")) * lit(1e6)).cast(dec)
    val m = curve.agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * x).as("__sxx"), sum(x * y).as("__sxy"))
    val (n, sx, sy) = (col("__n"), col("__sx"), col("__sy"))
    val numer = n * col("__sxy") - sx * sy
    val denom = n * col("__sxx") - sx * sx
    // β = numer/denom (quantizations cancel); ln K = (sy/10⁶ − β·sx/10⁶)/n
    // = (sy·denom − numer·sx)/(10⁶·n·denom), which REDUCES exactly by
    // a factor of n: sy·denom − numer·sx = n·(sy·sxx − sx·sxy), so
    // ln K = (sy·sxx − sx·sxy)/(10⁶·denom) — same rational, same
    // truncation, but the intermediate grows as n²·7e22 instead of
    // n³ (the unreduced form silently NULLED past ~1e5 docs when the
    // decimal(38,0) product overflowed with ANSI off; the reduced
    // form is exact to ~3·10⁷ docs per curve). Trunc-toward-zero
    // integer division, identical cross-engine for either sign.
    def truncDiv(a: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = ((a - a % d) / d).cast("long")
    val bNum = numer * lit(1000000L).cast(dec)
    val kNum = sy * col("__sxx") - sx * col("__sxy")
    m.select(
      col("__n").cast("long").as("n_docs"),
      truncDiv(bNum, denom).as("beta_q"),
      truncDiv(kNum, denom).as("ln_k_q"))
      .withColumn("beta", col("beta_q").cast("double") / lit(1e6))
      .withColumn("ln_k", col("ln_k_q").cast("double") / lit(1e6))
  }
}
