package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Dedup, Sampling, TextStats}
import Shared.{minHashOracleSql, expSqlChain, qualitySqlExpr, lnSqlChain}

/** [EXT] Sampling, splits and data mixing through `graft.ext.Sampling`:
  * hash-gated samples and splits, temperature and capped mixtures, token
  * budgets, curricula, DSIR weights and the training manifest.
  */
object SamplingQueries {

  val defs: Seq[QueryDef] = Seq(

    // Deterministic stratified sampling: portable md5 hash gate, per-
    // language keep rates. Pure projection+filter — zero shuffles.
    QueryDef("q_sample_stratified", (s, dir) =>
      Sampling.stratifiedHashSample(
        Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 50, "es" -> 20), defaultPct = 10),
      // Portable hash gate: same md5-prefix-60 integer as Md5Ops.prefix60.
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |  < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'es' THEN 20 ELSE 10 END""".stripMargin),

    // Deterministic 80/10/10 train/val/test assignment (hash ranges).
    QueryDef("q_split_assign", (s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id"),
      """SELECT doc_id, text, lang, source, n_chars,
        |  CASE
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |      THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |      THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents""".stripMargin),

    // Temperature-flattened (T=2) source mixing: √n-proportional
    // per-source targets, portable md5 micro-rate gate, zero corpus
    // shuffles.
    QueryDef("q_mix_temperature", (s, dir) =>
      Sampling.temperatureMixSample(
        Tables.documents(s, dir), "source", "doc_id", targetTotal = 200L),
      // Mirrored √n chain: every step is an exact-integer-input
      // correctly-rounded double op + FLOOR, so the rates are
      // bit-identical cross-engine.
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |      FROM c),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM w),
        |r AS (SELECT source,
        |        LEAST(1000000, CAST(FLOOR(
        |          FLOOR(200e0 * (CAST(w AS DOUBLE) / CAST(tot AS DOUBLE)))
        |            * 1e6 / CAST(n AS DOUBLE)) AS BIGINT)) AS keep_rate_micro
        |      FROM w CROSS JOIN tw)
        |SELECT d.source, d.doc_id, d.text, d.lang, d.n_chars,
        |       r.keep_rate_micro
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < r.keep_rate_micro""".stripMargin),

    // Token-budget selection: highest-quality docs first until the
    // 10k-token budget is spent — distributed prefix sum over the
    // (quality desc, doc_id) order, keep iff the doc fits entirely.
    QueryDef("q_token_budget", (s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"))
      Sampling.tokenBudgetSelect(
        d, Seq(col("quality").desc, col("doc_id")), "n_tokens", 10000L)
    },
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS n_tokens,
        |    $qualitySqlExpr AS quality
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens, quality,
        |    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, source, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 10000""".stripMargin),

    // Curriculum order: per-source quality rank, sources interleaved
    // round-robin — global positions via the distributed ordinal.
    QueryDef("q_curriculum", (s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextStats.qualityScore(col("text")).as("quality"))
      Sampling.curriculumOrder(d, "source", "doc_id", "quality")
    },
      s"""WITH d AS (
        |  SELECT doc_id, source, $qualitySqlExpr AS quality FROM documents),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS stratum_rank
        |  FROM d)
        |SELECT doc_id, source, quality, stratum_rank,
        |  CAST(ROW_NUMBER() OVER (ORDER BY stratum_rank, source, doc_id)
        |    AS BIGINT) AS curriculum_pos
        |FROM r""".stripMargin),

    // Mixture plan: √tokens-weighted largest-remainder apportionment
    // of a 20k-token budget across sources — allocations sum EXACTLY
    // to the target, all integer arithmetic.
    QueryDef("q_mix_plan", (s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
        .withColumn("weight_q",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e6))
            .cast("long"))
      Sampling.largestRemainderAllocate(tok, "source", "weight_q", 20000L)
    },
      // Hamilton apportionment in HUGEINT: floor quotas via //, exact
      // fractional parts via %, +1 to the largest remainders.
      """WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS weight_q
        |  FROM tok),
        |tw AS (SELECT SUM(weight_q) AS tot FROM w),
        |s AS (
        |  SELECT source, n_tokens, weight_q,
        |    (20000 * weight_q) // tot AS base,
        |    (20000 * weight_q) % tot AS frac
        |  FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s)
        |SELECT source, n_tokens, weight_q,
        |  CAST(base + CASE WHEN rk <= 20000 - (SELECT used FROM u)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin),

    // [EXT] Capacity-capped water-filling: √n-flattened 25k-token mix
    // where no source can give more than it has — capped prefix +
    // exact residual apportionment, one pass.
    QueryDef("q_mix_capped", (s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
        .withColumn("weight_q",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e6))
            .cast("long"))
      Sampling.cappedAllocate(tok, "source", "weight_q", "n_tokens", 25000L)
    },
      // Water-filling: capped set = prefix of the cap/weight order
      // (ROWS frame), exact HUGEINT membership test, residual through
      // the Hamilton chain; capped rows union back with alloc = cap.
      """WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS weight_q
        |  FROM tok),
        |tot AS (SELECT CAST(SUM(weight_q) AS HUGEINT) AS tw FROM s),
        |o AS (
        |  SELECT source, n_tokens, weight_q,
        |    CAST(SUM(n_tokens) OVER win AS HUGEINT) - n_tokens
        |      AS cumcap_prev,
        |    CAST(SUM(weight_q) OVER win AS HUGEINT) - weight_q
        |      AS cumw_prev
        |  FROM s
        |  WINDOW win AS (
        |    ORDER BY CAST(n_tokens AS DOUBLE) / CAST(weight_q AS DOUBLE),
        |      source ROWS UNBOUNDED PRECEDING)),
        |f AS (
        |  SELECT o.*,
        |    ((25000 - cumcap_prev) * weight_q >=
        |      CAST(n_tokens AS HUGEINT) * (tw - cumw_prev)) AS capped
        |  FROM o CROSS JOIN tot),
        |cappedrows AS (
        |  SELECT source, weight_q, n_tokens, capped,
        |    CAST(n_tokens AS BIGINT) AS alloc
        |  FROM f WHERE capped),
        |res AS (
        |  SELECT 25000 - COALESCE(SUM(alloc), 0) AS rt FROM cappedrows),
        |u AS (SELECT source, weight_q, n_tokens, capped
        |      FROM f WHERE NOT capped),
        |utw AS (SELECT CAST(SUM(weight_q) AS HUGEINT) AS t FROM u),
        |s2 AS (
        |  SELECT u.*,
        |    ((SELECT rt FROM res) * weight_q) // t AS base,
        |    ((SELECT rt FROM res) * weight_q) % t AS frac
        |  FROM u CROSS JOIN utw),
        |us AS (SELECT SUM(base) AS used FROM s2),
        |r2 AS (SELECT s2.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |         AS rk FROM s2)
        |SELECT source, weight_q, n_tokens, capped,
        |  CAST(base + CASE WHEN rk <= (SELECT rt FROM res)
        |    - (SELECT used FROM us) THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r2
        |UNION ALL
        |SELECT source, weight_q, n_tokens, capped, alloc
        |FROM cappedrows""".stripMargin),

    // [EXT] General-temperature (T=3) mixture apportionment — weights
    // n^(1/3) via the deterministic lnq/expq pair, exact Hamilton
    // allocation of a 20k-token target.
    QueryDef("q_mix_temp_general", (s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
      Sampling.temperatureAllocate(tok, "source", "n_tokens",
        target = 20000L, temperature = 3.0)
    },
      // n^(1/3) via the mirrored lnq->scale->expq chain, then the
      // Hamilton apportionment in HUGEINT (the q_mix_plan chain).
      s"""WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  __lnx * (1e0 / 3e0) AS __y,
        |  ${expSqlChain("__y", "__ey")},
        |  CAST(FLOOR(__ey * 1e6) AS BIGINT) AS weight_q
        |  FROM tok),
        |tw AS (SELECT SUM(weight_q) AS tot FROM w),
        |s AS (
        |  SELECT source, n_tokens, weight_q,
        |    (20000 * weight_q) // tot AS base, (20000 * weight_q) % tot AS frac
        |  FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s)
        |SELECT source, n_tokens, weight_q,
        |  CAST(base + CASE WHEN rk <= 20000 - (SELECT used FROM u)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin),

    // DSIR importance weights: hashed-unigram log-likelihood ratio of
    // a curated target slice (src0-2) vs the raw pool, one
    // deterministic-ln per bucket floor-quantized to exact integers.
    QueryDef("q_dsir", (s, dir) =>
      Sampling.dsirWeights(
        Tables.documents(s, dir), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"), numBuckets = 64),
      // Per-bucket log-ratio via ONE deterministic-ln chain on an exact
      // integer ratio; per-doc weights are exact integer sums.
      s"""WITH toks AS (
        |  SELECT doc_id, (source IN ('src0', 'src1', 'src2')) AS tgt,
        |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id, source,
        |          unnest(str_split(trim(lower(text)), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)),
        |bc AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |          CAST(SUM(cr) AS BIGINT) AS tr FROM bc),
        |lam AS (
        |  SELECT bucket,
        |    (CAST(ct + 1 AS DOUBLE) * CAST(tr + 64 AS DOUBLE))
        |      / (CAST(tt + 64 AS DOUBLE) * CAST(cr + 1 AS DOUBLE)) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |    CAST(FLOOR(__lnx * 1e9) AS BIGINT) AS lambda_q
        |  FROM bc CROSS JOIN tot)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(l.lambda_q) AS BIGINT) AS weight_q,
        |  CAST(CAST(SUM(l.lambda_q) AS BIGINT) AS DOUBLE) / 1e9 AS weight
        |FROM toks t JOIN lam l USING (bucket)
        |GROUP BY 1""".stripMargin),

    // Leakage-safe split: near-dup clusters (MinHash LSH pairs → CC)
    // are hashed as a unit via their component rep, so no near-dup
    // pair straddles train/eval.
    QueryDef("q_split_leakage_safe", (s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.leakageSafeSplit(
        d, "doc_id",
        Dedup.portableMinHashNearDuplicates(
          d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    },
      // Same recursive-CC chain as q_dedup_clusters; the split hash runs
      // on the component rep (own id for unpaired docs).
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |  FROM reach GROUP BY s),
         |keyed AS (
         |  SELECT doc.doc_id, doc.text, doc.lang, doc.source, doc.n_chars,
         |    CAST(COALESCE(c.cluster_rep, doc.doc_id) AS BIGINT) AS split_key
         |  FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id)
         |SELECT doc_id, text, lang, source, n_chars, split_key,
         |  CASE
         |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
         |      THEN 'train'
         |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |      THEN 'val'
         |    ELSE 'test'
         |  END AS split
         |FROM keyed""".stripMargin),

    // [EXT] Exactly-k deterministic uniform sample: the 100 smallest
    // md5 hashes over doc ids (exact size, auditable membership).
    QueryDef("q_sample_exact_k", (s, dir) =>
      Sampling.exactKSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", k = 100),
      """SELECT doc_id, source, n_chars,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS sample_hash
        |FROM documents
        |ORDER BY sample_hash ASC, doc_id ASC
        |LIMIT 100""".stripMargin),

    // Per-source quota: top 50 docs per source by (n_chars desc, id) via
    // the bounded-heap TopKAgg — map-side pruned, hot-source safe.
    QueryDef("q_quota_cap", (s, dir) =>
      Sampling.quotaCap(
        Tables.documents(s, dir), Seq("source"), "n_chars", "doc_id", 50),
      """SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS n_chars, rank FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM documents) WHERE rank <= 50""".stripMargin),

    // [EXT] The final training manifest: √n-flattened source mix
    // apportioned to a 60k-token target, epoch repetition with an
    // md5 fractional gate, deterministic global shuffle order.
    QueryDef("q_train_manifest", (s, dir) => {
      val d = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.trainManifest(d, "source", "doc_id", "n_tokens", 60000L)
    },
      // Mix → repetition → shuffle: the q_mix_plan apportionment chain
      // at a 60k target, exact HUGEINT epoch split, md5 fractional
      // gate, and the same md5 shuffle order as the Spark ordinal.
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n
        |        FROM d GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |      FROM tok),
        |tw AS (SELECT SUM(wq) AS tot FROM w),
        |s AS (SELECT source, n,
        |        (60000 * wq) // tot AS base_a, (60000 * wq) % tot AS frac
        |      FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base_a) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s),
        |alloc AS (
        |  SELECT source, n,
        |    CAST(base_a + CASE WHEN rk <= 60000 - (SELECT used FROM u)
        |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM r),
        |plan AS (
        |  SELECT source, alloc // n AS base,
        |    ((alloc % n) * 1000000) // n AS fm
        |  FROM alloc),
        |inst AS (
        |  SELECT d.source, d.doc_id, d.n_tokens,
        |    p.base + CASE WHEN
        |      ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < p.fm THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN plan p USING (source)),
        |e AS (
        |  SELECT source, doc_id, n_tokens, CAST(u.e AS BIGINT) AS epoch
        |  FROM inst, unnest(generate_series(1, copies)) AS u(e)
        |  WHERE copies >= 1)
        |SELECT source, doc_id, n_tokens, epoch,
        |  CAST(ROW_NUMBER() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |       || CAST(epoch AS VARCHAR)), 1, 15))::BIGINT,
        |    doc_id, epoch) AS BIGINT) AS train_pos
        |FROM e""".stripMargin),

    // [EXT] Sequence-length bucketing padding report: per power-of-two
    // bucket (cap 128), the padding a fixed-length loader would burn.
    QueryDef("q_length_buckets", (s, dir) =>
      Sampling.lengthBucketReport(
        Tables.documents(s, dir).filter(col("text").isNotNull)
          .select(TextStats.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "n_tokens", maxLen = 128),
      """WITH d AS (
        |  SELECT CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT CASE WHEN t <= 1 THEN 1 WHEN t <= 2 THEN 2
        |    WHEN t <= 4 THEN 4 WHEN t <= 8 THEN 8 WHEN t <= 16 THEN 16
        |    WHEN t <= 32 THEN 32 WHEN t <= 64 THEN 64 ELSE 128 END AS bucket,
        |    LEAST(t, 128) AS tok
        |  FROM d WHERE t > 0),
        |g AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens,
        |  CAST(n_docs * bucket AS BIGINT) AS capacity,
        |  CAST(n_docs * bucket - sum_tokens AS BIGINT) AS padding,
        |  CAST(n_docs * bucket - sum_tokens AS DOUBLE)
        |    / CAST(n_docs * bucket AS DOUBLE) AS waste
        |FROM g""".stripMargin),

    // [EXT] Per-source weighted sampling: independent A-ES draw per
    // stratum, bounded-heap per group (corpus mixing).
    QueryDef("q_sample_weighted_strata", (s, dir) =>
      graft.ext.Sampling.weightedSampleByGroup(
        Tables.documents(s, dir), Seq("source"), "doc_id", "n_chars",
        k = 5),
      s"""WITH p0 AS (
        |  SELECT source, doc_id, n_chars,
        |    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 + 0.5) / 1000000.0) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |p AS (
        |  SELECT source, doc_id, ROUND(__lnx / n_chars, 9) AS priority
        |  FROM p0)
        |SELECT source, doc_id, priority, rank FROM (
        |  SELECT source, doc_id, priority,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY priority DESC, doc_id) AS rank
        |  FROM p) WHERE rank <= 5""".stripMargin),

    // [EXT] Deterministic A-ES weighted sampling (weight = document
    // length): pure projection + bounded-heap top-k, reproducible and
    // auditable cross-engine.
    QueryDef("q_sample_weighted", (s, dir) =>
      graft.ext.Sampling.weightedSample(
        Tables.documents(s, dir), "doc_id", "n_chars", k = 100),
      s"""WITH p0 AS (
        |  SELECT doc_id, n_chars,
        |    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 + 0.5) / 1000000.0) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |p AS (
        |  SELECT doc_id, ROUND(__lnx / n_chars, 9) AS priority
        |  FROM p0)
        |SELECT doc_id, priority, rank FROM (
        |  SELECT doc_id, priority,
        |    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rank
        |  FROM p) WHERE rank <= 100""".stripMargin),
  )
}
