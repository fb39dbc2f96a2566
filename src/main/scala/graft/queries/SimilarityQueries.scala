package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.lshBitsFor
import graft.Tables
import graft.ext.Similarity
import Shared.adaptiveLshBucketedCte

/** [EXT] Vector retrieval through `graft.ext.Similarity`: exact, sign-LSH
  * and IVF top-k, rank fusion, recall and hubness self-evaluation,
  * Matryoshka truncation and hard-negative mining.
  */
object SimilarityQueries {

  private def simTopkOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 50),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_inner_product(q.qe, e.emb)
      |      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
      |  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, sim, rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM p)
      |WHERE rnk <= 10""".stripMargin

  // RRF fusion of the exact and LSH retrievers: each retriever SQL is
  // embedded verbatim as a CTE, so the fused oracle can never drift
  // from the per-retriever oracles it composes.
  private def rrfFuseOracleSql: String =
    s"""WITH ra AS ($simTopkOracleSql),
rb AS ($simLshOracleSql),
j AS (
  SELECT COALESCE(ra.query_id, rb.query_id) AS query_id,
    COALESCE(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
    ra.rnk AS rank_a, rb.rnk AS rank_b,
    FLOOR((COALESCE(1.0 / (60 + CAST(ra.rnk AS DOUBLE)), 0.0)
      + COALESCE(1.0 / (60 + CAST(rb.rnk AS DOUBLE)), 0.0)) * 1e6) / 1e6
      AS rrf
  FROM ra FULL JOIN rb
    ON ra.query_id = rb.query_id AND ra.neighbor_id = rb.neighbor_id)
SELECT query_id, neighbor_id, rank_a, rank_b, rrf, fused_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY rrf DESC, neighbor_id) AS fused_rank
  FROM j)
WHERE fused_rank <= 10"""

  /** Recall@10 of the LSH retriever vs exact: both retriever SQLs
    * embedded verbatim (the rrfFuse discipline — the eval can never
    * drift from the retrievers it evaluates).
    */
  private def annRecallOracleSql: String =
    s"""WITH ex AS ($simTopkOracleSql),
ap AS ($simLshOracleSql),
j AS (
  SELECT e.query_id,
    CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
  CAST(CAST(SUM(hit) AS BIGINT) AS DOUBLE) / 10e0 AS recall
FROM j GROUP BY 1"""

  /** Matryoshka recall oracle: the same brute-force top-10 chain run
    * over the full 64-dim and the [1:16] prefix embeddings, joined in
    * the annRecall shape.
    */
  private def mrlRecallOracleSql: String = {
    def topkCte(src: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(list_inner_product(q.emb, c.emb)
         |          / (sqrt(list_inner_product(q.emb, q.emb))
         |            * sqrt(list_inner_product(c.emb, c.emb))), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM $src q JOIN $src c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 50)
         |  WHERE rnk <= 10""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
t AS (SELECT vec_id, emb[1:16] AS emb FROM e),
ex AS (
  ${topkCte("e")}),
ap AS (
  ${topkCte("t")}),
j AS (
  SELECT e.query_id,
    CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
  CAST(CAST(SUM(hit) AS BIGINT) AS DOUBLE) / 10e0 AS recall
FROM j GROUP BY 1"""
  }

  /** DuckDB oracle for q_sim_lsh: the sign-LSH hyperplanes are the SAME
    * JVM-deterministic constants [[Similarity.hyperplane]] uses, inlined
    * as double literals; projections are rounded to 6 dp before the sign
    * test in BOTH engines so bucket ids agree bit-exactly.
    */
  private def simLshOracleSql: String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)},
q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM b WHERE vec_id < 50),
p AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.qe, c.emb)
      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 10"""
  }

  /** DuckDB oracle for q_sim_ivf: centroids are derived the same way the
    * Spark side derives them (the nlist smallest vec_ids), assignment
    * and probing rank by ROUND(sim, 6) DESC, cid DESC — exactly the
    * struct-sort order of [[Similarity.ivfTopK]].
    */
  private def simIvfOracleSql: String = {
    val nlist = 16
    val nprobe = 4
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, emb AS cemb
  FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT $nlist)),
asim AS (
  SELECT e.vec_id, cent.cid,
    ROUND(list_inner_product(e.emb, cent.cemb)
      / (sqrt(list_inner_product(cent.cemb, cent.cemb)) * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, cid AS list FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS r
    FROM asim) WHERE r = 1),
probe AS (
  SELECT vec_id, cid AS list FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS r
    FROM asim WHERE vec_id < 50) WHERE r <= $nprobe),
c AS (SELECT e.vec_id, e.emb, a.list FROM e JOIN assign a USING (vec_id)),
q AS (SELECT e.vec_id AS query_id, e.emb AS qe, p.list FROM e JOIN probe p ON e.vec_id = p.vec_id),
p2 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.qe, c.emb)
      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM q JOIN c ON q.list = c.list AND c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM p2)
WHERE rnk <= 10"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-10 for query vectors vec_id < 50.
    QueryDef("q_sim_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
    },
      simTopkOracleSql),

    // Oracle-checked ANN paths: bucket/centroid decisions round to 6 dp
    // in both engines, and the oracle SQL inlines the same hyperplane
    // constants / derives the same centroids (see simLshOracleSql /
    // simIvfOracleSql above).
    QueryDef("q_sim_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshBucketedTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 10, dim = 64,
        bits = lshBitsFor(dir, emb))
    },
      simLshOracleSql),

    // [EXT] ANN self-eval: recall@10 of the sign-LSH retriever vs the
    // exact top-k, per query — oracle composes both retriever SQLs.
    QueryDef("q_ann_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        Similarity.lshBucketedTopK(
          emb, queries, "vec_id", "embedding", k = 10, dim = 64,
          bits = lshBitsFor(dir, emb)),
        k = 10)
    },
      annRecallOracleSql),

    QueryDef("q_sim_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
    },
      simIvfOracleSql),

    // Per-label embedding centroids, long format (label × 64 dims).
    QueryDef("q_embed_centroids", (s, dir) =>
      Similarity.labelCentroids(
        Tables.embeddings(s, dir), "label", "embedding"),
      // Dimensions are 1-based in both engines; embeddings are 64-dim.
      """SELECT e.label, CAST(g.g AS INT) AS dim,
        |  ROUND(CAST(SUM(CAST(CAST(e.embedding[g.g] AS DOUBLE) AS DECIMAL(28,12)))
        |    AS DOUBLE) / COUNT(*), 6) AS centroid,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM embeddings e
        |CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS g) g
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Matryoshka truncation eval: recall@10 of retrieval over
    // the FIRST 16 DIMS against the full-64-dim ground truth — "can
    // we serve the cheap prefix embedding" (Kusupati et al. '22).
    QueryDef("q_mrl_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", 10),
        Similarity.bruteForceTopK(
          trunc, trunc.filter(col("vec_id") < 50), "vec_id", "embedding", 10),
        k = 10)
    },
      mrlRecallOracleSql),

    // [EXT] Hubness diagnostic: k-occurrence histogram of the LSH
    // retriever over the whole corpus (anti-hubs included). The only
    // retrieval with BOTH sides unbounded, so bits follow the
    // corpus-size ladder — constant bits made this the inventory's one
    // quadratic query (>1000x wall at 30x data before the ladder).
    QueryDef("q_ann_hubness", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = lshBitsFor(dir, emb)
      Similarity.hubnessReport(
        Similarity.lshBucketedTopK(
          emb, emb, "vec_id", "embedding", k = 10, dim = 64, bits = bits),
        emb, "vec_id")
    },
      // LSH retrieval over ALL queries (the q_sim_lsh chain without the
      // query filter) -> per-vector in-degree -> k-occurrence histogram.
      {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)},
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.emb, c.emb)
      / (sqrt(list_inner_product(q.emb, q.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id),
t AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
    FROM p)
  WHERE rnk <= 10),
deg AS (
  SELECT e.vec_id, CAST(COUNT(t.query_id) AS BIGINT) AS in_degree
  FROM e LEFT JOIN t ON t.neighbor_id = e.vec_id GROUP BY 1)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM deg GROUP BY 1"""
      }),

    // [EXT] Hard-negative mining: per query, top-3 most-similar
    // vectors with a DIFFERENT label (bounded query side).
    QueryDef("q_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label",
        k = 3, queryMax = 50),
      // simTopk's pair scan with the label-inequality prune.
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS ql, emb AS qe FROM e WHERE vec_id < 50),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
        |    ROUND(list_inner_product(q.qe, e.emb)
        |      / (sqrt(list_inner_product(q.qe, q.qe))
        |         * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
        |  FROM q CROSS JOIN e WHERE e.label <> q.ql)
        |SELECT query_id, neighbor_id, neg_label, sim, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM p) WHERE rnk <= 3""".stripMargin),

    // [EXT] Hybrid-retrieval fusion: RRF over the exact and LSH
    // retrievers' per-query top-10 lists (k-bounded join + per-query
    // window; decide-on-quantized ranking).
    QueryDef("q_rrf_fuse", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 50)
      Similarity.rrfFuse(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10),
        Similarity.lshBucketedTopK(
          emb, q, "vec_id", "embedding", k = 10, dim = 64,
          bits = lshBitsFor(dir, emb)),
        kConst = 60, topK = 10)
    },
      rrfFuseOracleSql),
  )
}
