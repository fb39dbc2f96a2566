package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.lshBitsFor
import graft.ext.{Dedup, TextStats}
import graft.{Tables, XxSql}
import Shared.{minHashOracleSql, adaptiveLshBucketedCte}

/** [EXT] Near-duplicate and exact dedup through `graft.ext.Dedup`: MinHash
  * and SimHash (portable md5 and native xxhash64 families), n-gram and
  * embedding near-duplicates, cluster collapse, incremental and
  * bloom-filtered dedup, and the dedup diagnostics.
  */
object DedupQueries {

  /** Similarity threshold of q_dedup_minhash_fast and its oracle. */
  private val MinHashFastThreshold = 0.5
  /** Hamming radius of q_dedup_simhash_fast and its oracle. */
  private val SimHashFastMaxDist = 6

  /** DuckDB oracle for q_dedup_simhash — same 60-bit md5 token hash,
    * bit sums, banding, and Hamming filter, generated programmatically.
    */
  private def simHashOracleSql: String = {
    val bits = 60
    val nBands = 6
    val width = 10
    val bitSumDefs = (0 until bits).map { i =>
      s"SUM(CASE WHEN (m >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sigExpr = (0 until bits).map { i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val bandSelects = (0 until nBands).map { band =>
      s"SELECT doc_id, simhash, $band AS band, (simhash >> ${band * width}) & ${(1L << width) - 1} AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS tok
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS m FROM e),
bs AS (
  SELECT doc_id,
    $bitSumDefs
  FROM h GROUP BY doc_id),
sig AS (
  SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM bs),
banded AS (
  $bandSelects),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= ${nBands - 1}"""
  }

  /** DuckDB oracle for q_dedup_embed_lsh: same bucket constants, same
    * equi-join + exact-cosine verification.
    */
  private def embedLshOracleSql: String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)}
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
  ROUND(list_inner_product(a.emb, c.emb)
    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND(list_inner_product(a.emb, c.emb)
    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) >= 0.4"""
  }

  /** Incremental exact dedup contract, shared by the plain anti-join
    * (q_dedup_incremental) and the bloom-prefiltered plan
    * (q_dedup_bloom) — the oracle gate proves them equivalent.
    */
  private val incrementalOracleSql: String =
    """WITH fp AS (
      |  SELECT doc_id, text, lang, source, n_chars, md5(text) AS fp
      |  FROM documents),
      |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0),
      |batch AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
      |surv AS (
      |  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
      |  FROM batch b LEFT JOIN hist h ON b.fp = h.fp
      |  WHERE h.fp IS NULL)
      |SELECT doc_id, text, lang, source, n_chars FROM surv WHERE rn = 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup with deterministic representative.
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), Seq("text"), "doc_id"),
      "SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text"),

    // Token-set Jaccard near-dup pairs (bounded query side).
    QueryDef("q_dedup_ngram", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.jaccardPairs(
        d, d.filter(col("doc_id") < 200), "doc_id", "text", threshold = 0.5)
    },
      """WITH t AS (
        |  SELECT doc_id, list_distinct(str_split(TRIM(LOWER(text)), ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 200
        |  AND CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.5""".stripMargin),

    // [EXT] Exact repeated-substring spans (Lee et al. 2022): maximal
    // token spans whose 8-grams all recur in >=2 docs — the partial-
    // duplication regions whole-doc dedup misses. Positional k-gram
    // index + per-doc gaps-and-islands merge; pure integer output.
    QueryDef("q_repeated_spans", (s, dir) =>
      Dedup.repeatedSpans(
        Tables.documents(s, dir), "doc_id", "text", k = 8, minDocs = 2),
      // Repeated-span oracle: same k-gram index over gram STRINGS (the
      // Spark side shuffles md5 prefixes of the same grams), same
      // gaps-and-islands merge with break at pos > prev_pos + k.
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
        |  WHERE len(t) >= 8),
        |rep AS (
        |  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
        |  GROUP BY gram HAVING COUNT(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
        |      THEN 1 ELSE 0 END AS b
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (
        |  SELECT doc_id, pos, SUM(b) OVER (
        |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
        |  FROM brk)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, span""".stripMargin),

    // Embedding-cosine near-dup pairs (bounded query side, exact).
    QueryDef("q_dedup_embed", (s, dir) =>
      Dedup.embeddingNearDuplicates(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, queryMax = 200),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_inner_product(a.emb, b.emb)
        |    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200
        |  AND ROUND(list_inner_product(a.emb, b.emb)
        |    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.4""".stripMargin),

    // Embedding near-dup, BOTH sides unbounded: sign-LSH bucket
    // equi-join (the 100 TB path), exact-cosine verified. Bits follow
    // the corpus-size ladder — a constant bucket count would make the
    // within-bucket self-join quadratic as the corpus grows.
    QueryDef("q_dedup_embed_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingNearDuplicatesLsh(
        emb, "vec_id", "embedding",
        threshold = 0.4, dim = 64,
        bits = lshBitsFor(dir, emb))
    },
      embedLshOracleSql),

    // Oracle-checked MinHash: md5-derived hash family computable
    // bit-identically in DuckDB (its oracle, Shared.minHashOracleSql,
    // is generated from the same seeds).
    QueryDef("q_dedup_minhash", (s, dir) =>
      Dedup.portableMinHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
      minHashOracleSql),

    // xxhash64-family variant — oracled via the XxSql XXH64 emulation.
    QueryDef("q_dedup_minhash_fast", (s, dir) =>
      Dedup.minHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4,
        threshold = MinHashFastThreshold),
      // Engine-native xxhash64 paths, now fully oracled: XXH64 emulated
      // in exact HUGEINT arithmetic (see graft.XxSql) — the last two
      // rows-only queries become hash-checked.
      XxSql.minHashFastOracleSql(MinHashFastThreshold)),

    // Incremental exact dedup: the new batch (doc_id % 3 == 0) against
    // a historical digest table (everything else) — the daily-crawl-vs-
    // corpus pattern; history text is never read.
    QueryDef("q_dedup_incremental", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalExactByDigest(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Dedup.textDigests(d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"))
    },
      incrementalOracleSql),

    // [EXT] Dedup: Bloom-prefiltered incremental exact dedup — same
    // answer as q_dedup_incremental (shared oracle), but only
    // bloom-positive digests reach the history anti-join.
    QueryDef("q_dedup_bloom", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.bloomPrefilteredIncremental(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Dedup.textDigests(d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"),
        expectedItems = 100000L, fpp = 0.03)
    },
      // Different plan (bloom prefilter), same contract — the oracle IS
      // the plain incremental anti-join.
      incrementalOracleSql),

    // Pair -> cluster collapse: connected components of the portable
    // MinHash near-dup graph, min-id representatives. The oracle
    // re-derives the same pairs in SQL and closes them with a
    // recursive CTE.
    QueryDef("q_dedup_clusters", (s, dir) =>
      Dedup.clusterPairs(
        Dedup.portableMinHashNearDuplicates(
          Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b"),
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |FROM reach GROUP BY s""".stripMargin),

    // [EXT] Dedup design aid: LSH banding S-curves — candidate
    // probability vs similarity for each (bands, rows) configuration.
    QueryDef("q_lsh_curve", (s, dir) =>
      Dedup.lshCandidateCurve(s, Seq((4, 4), (8, 2), (2, 8))),
      """WITH cfg(bands, rows_per_band) AS (VALUES (4, 4), (8, 2), (2, 8)),
        |g AS (SELECT i FROM generate_series(1, 19) AS t(i))
        |SELECT bands, rows_per_band,
        |  ROUND(i * (1.0 / 20), 6) AS s,
        |  ROUND(1.0 - pow(1.0 - pow(ROUND(i * (1.0 / 20), 6),
        |    CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)), 6)
        |    AS p_candidate
        |FROM cfg CROSS JOIN g""".stripMargin),

    // [EXT] Dedup diagnostics: per-doc duplicated-shingle share — the
    // boilerplate filter signal pair mining can't see (a doc can be
    // 60% recycled without one near-dup partner).
    QueryDef("q_dup_share", (s, dir) =>
      Dedup.crossDocShingleShare(
        Tables.documents(s, dir), "doc_id", "text", shingleN = 3),
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
        |  FROM toks),
        |e AS (SELECT doc_id, unnest(shingles) AS sh FROM t),
        |d AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY 1)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  ROUND(CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_share
        |FROM e JOIN d USING (sh) GROUP BY 1""".stripMargin),

    // [EXT] Dedup diagnostics: the cluster-SIZE distribution — how
    // duplicated is the corpus? A few huge clusters ⇒ boilerplate
    // storm; many pairs ⇒ organic near-dups. Two tiny aggregates over
    // the cluster table.
    QueryDef("q_cluster_sizes", (s, dir) =>
      Dedup.clusterPairs(
        Dedup.portableMinHashNearDuplicates(
          Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters")),
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
         |sizes AS (
         |  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY 1""".stripMargin),

    // End-to-end dedup deliverable: the SURVIVING corpus after cluster
    // collapse (one representative per near-dup cluster + singletons).
    QueryDef("q_dedup_collapse", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.collapseNearDuplicates(
        docs, "doc_id",
        Dedup.portableMinHashNearDuplicates(
          docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    },
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |  FROM reach GROUP BY s)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |WHERE c.id IS NULL OR c.cluster_rep = d.doc_id""".stripMargin),

    // [EXT] Quality-aware dedup collapse: keep each near-dup
    // cluster's BEST doc by the exact quality micro-score (CCNet
    // convention), not its earliest.
    QueryDef("q_dedup_collapse_best", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("quality",
          coalesce(TextStats.qualityScoreMicro(col("text")), lit(-1L)))
      Dedup.collapseNearDuplicatesBest(d, "doc_id", "quality",
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    },
      // Same recursive-CC chain as q_dedup_collapse; the survivor is
      // the (quality desc, id asc) argmax per entity.
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
        |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
        |    COALESCE(c.cluster_rep, d.doc_id) AS entity,
        |    COALESCE(CAST(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
        |      + (600000 * LEN(list_filter(str_split(TRIM(text), ' '),
        |           t -> t IN ('the','a','an','of','and','to','in','is','on',
        |                      'for','with','at','by','from','as','it','that',
        |                      'this'))) + LEN(str_split(TRIM(text), ' ')))
        |        // (2 * LEN(str_split(TRIM(text), ' '))) AS BIGINT), -1)
        |      AS quality
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |win AS (
        |  SELECT entity, doc_id FROM (
        |    SELECT entity, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY entity
        |        ORDER BY quality DESC, doc_id ASC) AS r
        |    FROM keyed)
        |  WHERE r = 1)
        |SELECT k.doc_id, k.text, k.lang, k.source, k.n_chars, k.quality
        |FROM keyed k JOIN win w
        |  ON w.entity = k.entity AND w.doc_id = k.doc_id""".stripMargin),

    // Oracle-checked SimHash (md5-derived 60-bit signatures).
    QueryDef("q_dedup_simhash", (s, dir) =>
      Dedup.portableSimHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text"),
      simHashOracleSql),

    // xxhash64 64-bit variant — oracled via the XxSql XXH64 emulation.
    QueryDef("q_dedup_simhash_fast", (s, dir) =>
      Dedup.simHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text",
        maxDist = SimHashFastMaxDist),
      XxSql.simHashFastOracleSql(SimHashFastMaxDist)),

    // [EXT] Cross-source duplication matrix over the portable MinHash
    // pairs — which sources copy from which.
    QueryDef("q_source_dup_matrix", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.sourceDupMatrix(
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b", d, "doc_id", "source")
    },
      // Pair table from the q_dedup_minhash chain + two label joins.
      s"""WITH mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
        |lab AS (SELECT doc_id, source FROM documents),
        |cells AS (
        |  SELECT LEAST(a.source, b.source) AS source_a,
        |    GREATEST(a.source, b.source) AS source_b
        |  FROM mh JOIN lab a ON a.doc_id = mh.id_a
        |    JOIN lab b ON b.doc_id = mh.id_b)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM cells GROUP BY 1, 2""".stripMargin),

    // [EXT] Dedup self-eval: precision/recall of the shingle-MinHash
    // candidate pairs against exact token-Jaccard ≥ 0.5 truth, both
    // restricted to the lower-id < 200 pair universe. An end-metric
    // eval of the LSH path, not a self-consistency check.
    QueryDef("q_dedup_eval", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.pairEval(
        Dedup.jaccardPairs(d, d.filter(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.5),
        "doc_a", "doc_b",
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .filter(col("id_a") < 200),
        "id_a", "id_b")
    },
      // Truth = the q_dedup_ngram exact-Jaccard chain; candidates = the
      // q_dedup_minhash chain filtered to the same pair universe.
      s"""WITH t0 AS (
        |  SELECT doc_id, list_distinct(str_split(TRIM(LOWER(text)), ' '))
        |    AS toks
        |  FROM documents),
        |truthp AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t0 a JOIN t0 b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < 200
        |    AND CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(LEN(a.toks) + LEN(b.toks)
        |          - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.5),
        |candp AS (
        |  SELECT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
        |  FROM ($minHashOracleSql) mh WHERE id_a < 200),
        |tn AS (SELECT DISTINCT a, b, 1 AS t FROM truthp),
        |cn AS (SELECT DISTINCT a, b, 1 AS c FROM candp),
        |j AS (
        |  SELECT COALESCE(t, 0) AS t, COALESCE(c, 0) AS c
        |  FROM tn FULL JOIN cn USING (a, b))
        |SELECT CAST(SUM(t) AS BIGINT) AS n_truth,
        |  CAST(SUM(c) AS BIGINT) AS n_candidates,
        |  CAST(SUM(t * c) AS BIGINT) AS n_hits,
        |  CAST(CAST(SUM(t * c) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS precision,
        |  CAST(CAST(SUM(t * c) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) AS recall
        |FROM j""".stripMargin),

    // [EXT] Train-order novelty: fraction of each doc's distinct
    // 5-gram shingles first seen at that doc (min-doc_id arrival
    // order) — the asymmetric complement of q_dup_share.
    QueryDef("q_novelty", (s, dir) =>
      Dedup.shingleNovelty(Tables.documents(s, dir), "doc_id", "text", n = 5),
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 4),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
        |  FROM tk),
        |fst AS (SELECT g, MIN(doc_id) AS f FROM sh GROUP BY 1)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(CAST(SUM(CASE WHEN f.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / COUNT(*) AS novelty
        |FROM sh s JOIN fst f USING (g)
        |GROUP BY 1""".stripMargin),

    // [EXT] Dedup: Levenshtein-1 fuzzy key pairs via the FastSS
    // deletion neighborhood — complete equi-join candidates, exact
    // verify, never an all-pairs product.
    QueryDef("q_dedup_edit", (s, dir) =>
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_name"),
      // Brute-force all-pairs with a length prefilter: tiny at the gate
      // SF; the Spark side's deletion-neighborhood join must produce the
      // identical pair set (completeness for d <= 1 is the FastSS lemma).
      """WITH n AS (
        |  SELECT DISTINCT c_name AS s FROM customer WHERE c_name IS NOT NULL)
        |SELECT a.s AS name_a, b.s AS name_b,
        |  levenshtein(a.s, b.s) AS dist
        |FROM n a JOIN n b
        |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin),
  )
}
