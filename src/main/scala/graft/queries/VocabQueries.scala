package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Vocab
import Shared.{expSqlChain, lnSqlChain}

/** [EXT] Vocabulary and language models through `graft.ext.Vocab` and
  * `Bpe`: term statistics, unigram and bigram LMs, perplexity, BM25
  * retrieval, collocations and BPE tokenizer induction.
  */
object VocabQueries {

  /** BPE merges of q_bpe_merges, q_bpe_encode and their oracles. */
  private val BpeMerges = 6

  /** [[graft.ext.Vocab.unigramSurprisal]] as a DuckDB CTE chain ending
    * in `surp(doc_id, n_tokens, surprisal)` — shared by the
    * q_unigram_surprisal and q_perplexity_bucket oracles (same model,
    * same 6-dp-round-then-DECIMAL accumulation discipline).
    */
  private def surprisalSqlCtes: String =
    """tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |tot AS (
      |  SELECT CAST(SUM(len(str_split(trim(lower(text)), ' '))) AS DOUBLE) AS t
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, tf,
      |    ROUND(-ln(CAST(SUM(tf) OVER (PARTITION BY term) AS DOUBLE) / tot.t), 6)
      |      AS nll
      |  FROM tf CROSS JOIN tot),
      |surp AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    ROUND(CAST(SUM(CAST(tf AS DECIMAL(18,6)) * CAST(nll AS DECIMAL(18,6)))
      |      AS DOUBLE) / SUM(tf), 6) AS surprisal
      |  FROM w GROUP BY doc_id)""".stripMargin

  /** DuckDB oracle for q_bpe_merges: the BPE loop unrolled — per
    * merge, one pair count + argmax (total order: cnt desc, pair
    * lexicographic) and the SAME relational greedy-application rule
    * as [[graft.ext.Bpe.learnMerges]] (candidate runs, even offsets
    * apply, following row consumed). All stages MATERIALIZED — the
    * kmeans/PCA lesson: an inline chain re-evaluates per reference.
    */
  private def bpeOracleSql(numMerges: Int): String = {
    val union = (1 to numMerges).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainCtes(numMerges)}
$union"""
  }

  /** BPE-encode oracle: same chain, then the corpus joined to the
    * post-merge vocabulary (symbol counts of s`numMerges`).
    */
  private def bpeEncodeOracleSql(numMerges: Int): String =
    s"""WITH ${bpeChainCtes(numMerges)},
v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM s$numMerges GROUP BY 1)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(v.n) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(LEN(t.word)) AS BIGINT) AS n_chars,
  CAST(CAST(SUM(LEN(t.word)) AS BIGINT) AS DOUBLE)
    / CAST(SUM(v.n) AS BIGINT) AS compression
FROM (SELECT doc_id, word FROM (
        SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
      WHERE LEN(word) > 0) t
JOIN v USING (word)
GROUP BY 1"""

  /** The unrolled BPE loop as a reusable CTE body: word table `w`,
    * per-stage symbols `s0..sN`, per-stage argmax winners `b1..bN`.
    */
  private def bpeChainCtes(numMerges: Int): String = {
    val iterCtes = (1 to numMerges).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
  SELECT word, freq, pos, sym,
    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM $prev),
b$i AS MATERIALIZED (
  SELECT sym AS l, nsym AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p$i WHERE nsym IS NOT NULL GROUP BY 1, 2
  ORDER BY cnt DESC, l, r LIMIT 1),
c$i AS (
  SELECT p.word, p.freq, p.pos, p.sym,
    COALESCE(p.sym = b.l AND p.nsym = b.r, FALSE) AS cand
  FROM p$i p CROSS JOIN b$i b),
g$i AS (
  SELECT *, CASE WHEN cand THEN pos - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
    OVER (PARTITION BY word ORDER BY pos) END AS grp FROM c$i),
a$i AS (
  SELECT *, cand AND (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0
    AS app FROM g$i),
f$i AS (
  SELECT *, COALESCE(lag(app) OVER (PARTITION BY word ORDER BY pos), FALSE)
    AS prev_app FROM a$i),
s$i AS MATERIALIZED (
  SELECT word, freq,
    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
    CASE WHEN app THEN sym || (SELECT r FROM b$i) ELSE sym END AS sym
  FROM f$i WHERE NOT prev_app)"""
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(str_split(trim(lower(text)), ' ')) AS word
    FROM documents WHERE text IS NOT NULL)
  WHERE LEN(word) > 0 GROUP BY word),
s0 AS MATERIALIZED (
  SELECT word, freq, CAST(i AS BIGINT) AS pos,
    substr(word, CAST(i AS INT), 1) AS sym
  FROM w, unnest(range(1, len(word) + 1)) AS t(i)),
$iterCtes"""
  }

  val defs: Seq[QueryDef] = Seq(

    // [EXT] Source-pair unigram-KL matrix (style/distribution
    // distance; content overlap is q_source_overlap's job).
    QueryDef("q_source_kl", (s, dir) =>
      Vocab.sourceKlMatrix(Tables.documents(s, dir), "source", "text"),
      // One deterministic-ln per (term, pair) on an exact integer ratio;
      // terms floor-quantized at 1e12, summed as exact integers.
      s"""WITH tc AS (
        |  SELECT source AS src, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)
        |  GROUP BY 1, 2),
        |terms AS (SELECT DISTINCT term FROM tc),
        |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM terms),
        |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
        |grid AS (
        |  SELECT t.src, te.term, COALESCE(tc.c, 0) AS c, t.n, vv.v
        |  FROM tot t CROSS JOIN terms te CROSS JOIN vv
        |  LEFT JOIN tc ON tc.src = t.src AND tc.term = te.term),
        |p AS (
        |  SELECT a.src AS source_a, b.src AS source_b,
        |    CAST((a.c + 1) * (b.n + a.v) AS DOUBLE)
        |      / CAST((a.n + a.v) * (b.c + 1) AS DOUBLE) AS __x,
        |    CAST(a.c + 1 AS DOUBLE) / CAST(a.n + a.v AS DOUBLE) AS __pa,
        |  ${lnSqlChain("__x", "__lnx")},
        |    CAST(FLOOR(__pa * __lnx * 1e12) AS BIGINT) AS tq
        |  FROM grid a JOIN grid b ON a.term = b.term AND a.src <> b.src)
        |SELECT source_a, source_b, CAST(SUM(tq) AS BIGINT) AS kl_q,
        |  CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e12 AS kl
        |FROM p GROUP BY 1, 2""".stripMargin),

    // [EXT] OOV rate per doc under the top-20 corpus vocabulary (the
    // cheap junk/foreign-text spike detector).
    QueryDef("q_oov_rate", (s, dir) =>
      Vocab.oovRate(Tables.documents(s, dir), "doc_id", "text",
        vocabSize = 20),
      """WITH tf AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1),
        |v AS (SELECT term FROM tf ORDER BY n DESC, term LIMIT 20),
        |t AS (
        |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM t LEFT JOIN v USING (term) GROUP BY 1""".stripMargin),

    // [EXT] BM25 + RM3 pseudo-relevance feedback: expand the query
    // with the top-3 terms of the top-5 first-pass docs, re-retrieve.
    QueryDef("q_bm25_rm3", (s, dir) =>
      Vocab.bm25Rm3(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "merge"), k = 50),
      // Two passes of the BM25 chain; the expansion set derives purely
      // in SQL (count desc, term asc, limit 3 — the same total order
      // the Spark side collects).
      {
        def pass(cond: String, sfx: String) =
          s"""tf$sfx AS (
             |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  WHERE $cond GROUP BY 1, 2),
             |dfr$sfx AS (
             |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term)
             |    AS df
             |  FROM tf$sfx),
             |sc$sfx AS (
             |  SELECT f.doc_id,
             |    ROUND(SUM(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
             |      * f.tf * 2.2
             |      / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n)))), 6)
             |      AS score
             |  FROM dfr$sfx f JOIN dl d USING (doc_id) CROSS JOIN stats s
             |  GROUP BY 1)""".stripMargin
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
           |stats AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |    CAST(SUM(dl) AS DOUBLE) AS tot
           |  FROM dl),
           |${pass("term IN ('spark', 'query', 'merge')", "1")},
           |top1 AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
           |      AS r FROM sc1)
           |  WHERE r <= 5),
           |exp AS (
           |  SELECT term FROM (
           |    SELECT t.term, COUNT(*) AS c
           |    FROM toks t JOIN top1 USING (doc_id)
           |    WHERE t.term NOT IN ('spark', 'query', 'merge')
           |      AND len(t.term) > 0
           |    GROUP BY 1)
           |  ORDER BY c DESC, term LIMIT 3),
           |${pass("term IN ('spark', 'query', 'merge') " +
            "OR term IN (SELECT term FROM exp)", "2")},
           |ew AS (SELECT string_agg(term, ',' ORDER BY term) AS e FROM exp)
           |SELECT doc_id, score, rank, (SELECT e FROM ew) AS expanded_with
           |FROM (
           |  SELECT doc_id, score,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
           |  FROM sc2)
           |WHERE rank <= 50""".stripMargin
      }),

    // Corpus vocabulary: top 100 tokens by occurrences with doc freq.
    QueryDef("q_vocab_top", (s, dir) =>
      Vocab.topVocabulary(Tables.documents(s, dir), "doc_id", "text", 100),
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 100""".stripMargin),

    // CCNet-style unigram-LM surprisal (perplexity-proxy quality score).
    QueryDef("q_unigram_surprisal", (s, dir) =>
      Vocab.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH $surprisalSqlCtes
        |SELECT doc_id, n_tokens, surprisal FROM surp""".stripMargin),

    // [EXT] Per-doc unigram perplexity = expq(surprisal) — first
    // consumer of the deterministic-exp kernel (bit-exact, no round).
    QueryDef("q_doc_perplexity", (s, dir) =>
      Vocab.docPerplexity(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH $surprisalSqlCtes,
        |px AS (
        |  SELECT doc_id, n_tokens, surprisal,
        |  ${expSqlChain("surprisal", "perplexity")}
        |  FROM surp)
        |SELECT doc_id, n_tokens, surprisal, perplexity FROM px""".stripMargin),

    // [EXT] Held-out perplexity: LM fit on the 80% hash-split train
    // slice, only test docs scored, reserved mass for unseen terms.
    QueryDef("q_heldout_ppl", (s, dir) =>
      Vocab.heldOutPerplexity(Tables.documents(s, dir), "doc_id", "text"),
      // Train-slice LM (md5 split gate), one lnq per distinct train
      // term + one for the reserved unseen mass; exact integer per-doc
      // sums; mean and perplexity are mirrored IEEE trees.
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 < 80 AS tr,
        |    unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |counts AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks WHERE tr GROUP BY 1),
        |model AS (
        |  SELECT CAST(SUM(c) AS BIGINT) + CAST(COUNT(*) AS BIGINT) + 1
        |    AS m FROM counts),
        |lam AS (
        |  SELECT term,
        |    CAST(m AS DOUBLE) / CAST(c + 1 AS DOUBLE) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  CAST(FLOOR(__lnx * 1e9) AS BIGINT) AS lamq
        |  FROM counts CROSS JOIN model),
        |lam0 AS (
        |  SELECT CAST(m AS DOUBLE) AS __x0,
        |  ${lnSqlChain("__x0", "__lnx0")},
        |  CAST(FLOOR(__lnx0 * 1e9) AS BIGINT) AS lam0q
        |  FROM model),
        |sc AS (
        |  SELECT t.doc_id,
        |    COALESCE(l.lamq, (SELECT lam0q FROM lam0)) AS q
        |  FROM toks t LEFT JOIN lam l USING (term) WHERE NOT t.tr),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(q) AS BIGINT) AS sq
        |  FROM sc GROUP BY 1),
        |f AS (
        |  SELECT doc_id, n_tokens,
        |    (CAST(sq AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE)
        |      AS surprisal
        |  FROM g),
        |px AS (
        |  SELECT doc_id, n_tokens, surprisal,
        |  ${expSqlChain("surprisal", "perplexity")}
        |  FROM f)
        |SELECT doc_id, n_tokens, surprisal, perplexity FROM px""".stripMargin),

    // [EXT] Bigram-LM conditional surprisal (one model order up: catches
    // shuffled-word junk that unigram statistics cannot see).
    QueryDef("q_bigram_lm", (s, dir) =>
      Vocab.bigramSurprisal(Tables.documents(s, dir), "doc_id", "text"),
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |tf AS (
        |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, tf,
        |    ROUND(-ln(CAST(SUM(tf) OVER (PARTITION BY w1, w2) AS DOUBLE)
        |            / CAST(SUM(tf) OVER (PARTITION BY w1) AS DOUBLE)), 6) AS nll
        |  FROM tf)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(tf AS DECIMAL(18,6)) * CAST(nll AS DECIMAL(18,6)))
        |    AS DOUBLE) / SUM(tf), 6) AS bigram_surprisal
        |FROM w GROUP BY doc_id""".stripMargin),

    // [EXT] CCNet-style head/middle/tail perplexity tertiles per source
    // (integer rank cuts on the global surprisal order — no float
    // percentile decisions).
    QueryDef("q_perplexity_bucket", (s, dir) =>
      Vocab.perplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text", "source"),
      s"""WITH $surprisalSqlCtes,
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY surprisal, doc_id) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM surp)
        |SELECT d.source,
        |  CASE WHEN r.r * 3 <= r.n THEN 'head'
        |       WHEN r.r * 3 <= r.n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(r.n_tokens) AS BIGINT) AS sum_tokens
        |FROM r JOIN documents d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Interpolated Kneser–Ney bigram LM: the trained model table
    // (bigram type → smoothed conditional probability). Pure IEEE
    // arithmetic on exact integer counts — no ln, no rounding.
    QueryDef("q_kn_bigram", (s, dir) =>
      Vocab.kneserNeyBigram(Tables.documents(s, dir), "text"),
      // KN probability = fixed tree of correctly-rounded IEEE ops on
      // exact integer counts — mirrored op-for-op, no rounding step.
      """WITH toks AS (
        |  SELECT str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |p AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
        |s AS (
        |  SELECT w1, w2, c,
        |    CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS c_w1,
        |    CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p_fwd,
        |    CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1p_bwd,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS bb
        |  FROM p)
        |SELECT w1, w2, c, c_w1, n1p_fwd, n1p_bwd,
        |  GREATEST(CAST(c AS DOUBLE) - 7.5e-1, 0e0) / CAST(c_w1 AS DOUBLE)
        |    + ((7.5e-1 * CAST(n1p_fwd AS DOUBLE)) / CAST(c_w1 AS DOUBLE))
        |      * (CAST(n1p_bwd AS DOUBLE) / CAST(bb AS DOUBLE)) AS p_kn
        |FROM s""".stripMargin),

    // [EXT] Heaps'-law vocabulary-growth fit over the corpus in doc-id
    // order — the companion diagnostic to q_zipf_fit, exact-integer
    // OLS on floor-quantized deterministic lns.
    QueryDef("q_heaps_fit", (s, dir) =>
      Vocab.heapsFit(Tables.documents(s, dir), "doc_id", "text"),
      // Exact-integer OLS on floor-quantized deterministic lns; the
      // closed form is HUGEINT Cramer trunc-division (quantization
      // cancels in beta) — no >2^53 decimal→double cast anywhere.
      s"""WITH tok AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM tok GROUP BY 1),
        |fs AS (SELECT MIN(doc_id) AS doc_id FROM tok GROUP BY t),
        |fv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nv
        |       FROM fs GROUP BY 1),
        |curve AS (
        |  SELECT CAST(SUM(pd.nt) OVER (ORDER BY pd.doc_id) AS DOUBLE)
        |           AS __cx,
        |         CAST(SUM(COALESCE(fv.nv, 0)) OVER (ORDER BY pd.doc_id)
        |           AS DOUBLE) AS __cy
        |  FROM pd LEFT JOIN fv USING (doc_id)),
        |q AS (
        |  SELECT __cx AS __x, __cy AS __y,
        |  ${lnSqlChain("__x", "__lnx")},
        |  ${lnSqlChain("__y", "__lny")},
        |  CAST(FLOOR(__lnx * 1e6) AS HUGEINT) AS xq,
        |  CAST(FLOOR(__lny * 1e6) AS HUGEINT) AS yq
        |  FROM curve),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * xq) AS sxx, SUM(xq * yq) AS sxy
        |  FROM q),
        |d AS (
        |  SELECT n, sx, sy,
        |    (n * sxy - sx * sy) AS numer,
        |    (n * sxx - sx * sx) AS denom
        |  FROM m),
        |f AS (
        |  SELECT n,
        |    (numer * 1000000 - (numer * 1000000) % denom) // denom AS bq,
        |    ((sy * denom - numer * sx) - (sy * denom - numer * sx)
        |       % (n * denom)) // (n * denom) AS kq
        |  FROM d)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(bq AS BIGINT) AS beta_q, CAST(kq AS BIGINT) AS ln_k_q,
        |  CAST(CAST(bq AS BIGINT) AS DOUBLE) / 1e6 AS beta,
        |  CAST(CAST(kq AS BIGINT) AS DOUBLE) / 1e6 AS ln_k
        |FROM f""".stripMargin),

    // [EXT] PMI collocations (word2vec-style phrase mining): pairs that
    // co-occur far above their marginal rates, ranked on the rounded
    // score so cross-engine ln() ulps can't flip the order.
    QueryDef("q_pmi_colloc", (s, dir) =>
      Vocab.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 3L, k = 50),
      """WITH toks AS (
        |  SELECT str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |pairs AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
        |  FROM bg GROUP BY 1, 2),
        |m AS (
        |  SELECT w1, w2, pair_count,
        |    CAST(SUM(pair_count) OVER (PARTITION BY w1) AS BIGINT) AS left_count,
        |    CAST(SUM(pair_count) OVER (PARTITION BY w2) AS BIGINT) AS right_count
        |  FROM pairs),
        |n AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS n FROM pairs)
        |SELECT w1, w2, pair_count, left_count, right_count,
        |  ROUND(ln((CAST(pair_count AS DOUBLE) * n.n)
        |    / (CAST(left_count AS DOUBLE) * CAST(right_count AS DOUBLE))), 6)
        |    AS pmi
        |FROM m CROSS JOIN n
        |WHERE pair_count >= 3
        |ORDER BY pmi DESC, w1 ASC, w2 ASC
        |LIMIT 50""".stripMargin),

    // Per-document top TF-IDF term (rank on the 6dp-rounded score in
    // BOTH engines so cross-engine ln() ulps can't flip the argmax).
    QueryDef("q_tfidf_top", (s, dir) =>
      Vocab.topTfIdfTerm(Tables.documents(s, dir), "doc_id", "text"),
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(tf.tf * ln(n.n / df.df), 6) AS tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY ROUND(tf.tf * ln(n.n / df.df), 6) DESC, tf.term ASC) AS r
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM s WHERE r = 1""".stripMargin),

    // [EXT] Zipf fit: OLS slope of ln(freq) vs ln(rank) over the top
    // vocabulary — corpus-health number for the dataset card.
    QueryDef("q_zipf_fit", (s, dir) =>
      Vocab.zipfFit(Tables.documents(s, dir), "doc_id", "text", k = 100),
      """WITH v AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences
        |  FROM (SELECT unnest(str_split(trim(lower(text)), ' ')) AS token
        |        FROM documents)
        |  GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 100),
        |r AS (SELECT occurrences AS occ,
        |        ROW_NUMBER() OVER (ORDER BY occurrences DESC, token ASC)
        |          AS rank
        |      FROM v),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS sx,
        |  SUM(CAST(ROUND(ln(occ), 6) AS DECIMAL(18,6))) AS sy,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
        |    * CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS sxx,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
        |    * CAST(ROUND(ln(occ), 6) AS DECIMAL(18,6))) AS sxy
        |  FROM r)
        |SELECT n AS n_terms,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
        |    6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * CAST(sx AS DOUBLE)) / n, 6) AS intercept
        |FROM m""".stripMargin),

    // [EXT] Hashing-trick featurization: fixed 64-bucket space via the
    // portable md5-prefix hash; sparse (doc, bucket, cnt) rows.
    QueryDef("q_feature_hash", (s, dir) =>
      Vocab.hashedFeatures(Tables.documents(s, dir), "doc_id", "text", 64),
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(token), 1, 15))::BIGINT % 64 AS BIGINT)
        |    AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS token
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] BM25 lexical retrieval: exact-count inputs, 6-dp-rounded
    // scores, bounded-heap global top-k (no global sort).
    QueryDef("q_bm25_search", (s, dir) =>
      Vocab.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "merge"), k = 50),
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS tot
        |  FROM dl),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'query', 'merge') GROUP BY 1, 2),
        |dfr AS (
        |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT f.doc_id,
        |    ROUND(SUM(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * f.tf * 2.2
        |      / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n)))), 6) AS score
        |  FROM dfr f JOIN dl d USING (doc_id) CROSS JOIN stats s
        |  GROUP BY 1)
        |SELECT doc_id, score, rank FROM (
        |  SELECT doc_id, score,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM sc)
        |WHERE rank <= 50""".stripMargin),

    // [EXT] BPE merge learning (tokenizer induction): 6 merges over
    // the word-frequency table, greedy left-to-right application done
    // relationally (oracle unrolls the same stages).
    QueryDef("q_bpe_merges", (s, dir) =>
      graft.ext.Bpe.learnMerges(
        Tables.documents(s, dir), "text", numMerges = BpeMerges),
      bpeOracleSql(BpeMerges)),

    // [EXT] Price the corpus in LEARNED-tokenizer tokens: join each
    // doc's words to the post-merge vocabulary; compression = chars
    // per BPE token (exact integer ratio).
    QueryDef("q_bpe_encode", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ext.Bpe.vocabAfterMerges(docs, "text", numMerges = BpeMerges)
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_chars"))
        .withColumn("compression",
          col("n_chars").cast("double") / col("n_bpe_tokens"))
    },
      bpeEncodeOracleSql(BpeMerges)),
  )
}
