package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.embCountFor
import graft.Tables
import graft.ext.Dedup

/** [EXT] Embedding-space models through `graft.ext.Embeddings`: int8
  * quantization, per-dimension health, deterministic PCA and k-means, and
  * SemDeDup on top of the k-means unroll.
  */
object EmbeddingQueries {

  /** k-means shape of q_kmeans_assign and its oracle. */
  private val KmeansK = 8
  private val KmeansIters = 3
  /** Components of q_pca_project and its oracle. */
  private val PcaK = 3
  /** Lloyd passes of q_semdedup and of its unrolled oracle. */
  private val SemDedupIters = 3

  /** DuckDB oracle for q_kmeans_assign: the full deterministic k-means
    * unrolled in SQL — farthest-point init (k−1 argmax layers over
    * ⌊minDist·10⁶⌋; floor commutes with MIN so per-seed floors + MIN
    * equals the Spark side's floor-of-least), then `iters` Lloyd
    * passes, each an argmin assignment over ⌊dist·10⁶⌋ (ties → lower
    * cid, the struct-least order) and a centroid update from exact
    * ⌊v_i·10⁶⌋ BIGINT sums — mirroring [[graft.ext.Embeddings.kmeans]]
    * scalar for scalar. `list_inner_product` is bit-identical to the
    * codegen'd [[graft.functions.DotProduct]].
    */
  private def kmeansOracleSql: String =
    s"""WITH ${kmeansAssignCtes(KmeansK, KmeansIters)}
SELECT cid AS cluster, COUNT(*) AS n_vectors FROM fin GROUP BY 1"""

  /** Quantized-distance SQL shared by every k-means oracle chain —
    * mirrors [[graft.functions.NearestCentroidQ]] bit-for-bit.
    */
  private def kmeansQdSql(emb: String, cemb: String): String =
    s"CAST(FLOOR((list_inner_product($emb, $emb) " +
      s"- list_inner_product($emb, $cemb) * 2.0 " +
      s"+ list_inner_product($cemb, $cemb)) * 1e6) AS BIGINT)"

  /** `e(vec_id, emb, qemb)` + `dims` header shared by the k-means
    * oracle chains.
    */
  private val kmeansHeaderCtes: String =
    s"""e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
    list_transform(CAST(embedding AS DOUBLE[]),
      x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS qemb
  FROM embeddings),
dims AS MATERIALIZED (SELECT UNNEST(range(1, 65)) AS i)"""

  /** The k-AGNOSTIC part of the Lloyd unroll: `iters` iterations from
    * a seed table `c0(cid, emb)` of ANY size, ending in
    * `fin(vec_id, cid)`. Quantized assignment (lowest cid on ties),
    * exact integer centroid sums, empty clusters keep their centroid —
    * the [[graft.ext.Embeddings.kmeans]]/`kmeansSpread` iteration
    * contract.
    */
  private def kmeansIterFinCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      val prev = s"c${t - 1}"
      s"""a$t AS MATERIALIZED (
  SELECT vec_id, qemb, cid FROM (
    SELECT e.vec_id, e.qemb, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${kmeansQdSql("e.emb", "c.emb")} ASC, c.cid ASC) AS r
    FROM e CROSS JOIN $prev c) WHERE r = 1),
u$t AS MATERIALIZED (
  SELECT a.cid, d.i, SUM(a.qemb[d.i]) AS s, COUNT(*) AS n
  FROM a$t a CROSS JOIN dims d GROUP BY a.cid, d.i),
c$t AS MATERIALIZED (
  SELECT p.cid, COALESCE(nc.emb, p.emb) AS emb
  FROM $prev p LEFT JOIN (
    SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
      ORDER BY i) AS emb
    FROM u$t GROUP BY cid) nc USING (cid))"""
    }.mkString(",\n")
    s"""$iterCtes,
fin AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${kmeansQdSql("e.emb", "c.emb")} ASC, c.cid ASC) AS r
    FROM e CROSS JOIN c$iters c) WHERE r = 1)"""
  }

  /** The deterministic FIXED-k k-means unroll (farthest-point seeds,
    * k−1 seed CTEs) ending in `fin(vec_id, cid)` — the
    * q_kmeans_assign oracle.
    */
  private def kmeansAssignCtes(k: Int, iters: Int): String = {
    val seedCtes = (1 until k).map { j =>
      s"""s$j AS MATERIALIZED (
  SELECT $j AS cid, any_value(e.emb) AS emb FROM e CROSS JOIN seeds$j s
  GROUP BY e.vec_id
  ORDER BY MIN(${kmeansQdSql("e.emb", "s.emb")}) DESC, e.vec_id ASC LIMIT 1),
seeds${j + 1} AS MATERIALIZED (SELECT * FROM seeds$j UNION ALL SELECT * FROM s$j)"""
    }.mkString(",\n")
    s"""$kmeansHeaderCtes,
s0 AS MATERIALIZED (SELECT 0 AS cid, emb FROM e ORDER BY vec_id LIMIT 1),
seeds1 AS MATERIALIZED (SELECT * FROM s0),
$seedCtes,
c0 AS MATERIALIZED (SELECT * FROM seeds$k),
${kmeansIterFinCtes(iters)}"""
  }

  /** The CORPUS-SIZED k-means unroll — k-AGNOSTIC TEXT, so one static
    * SQL string follows the data: `kk` derives k from COUNT(*) with
    * the exact [[graft.ext.Dedup.semDeDupK]] integer ladder, and `c0`
    * seeds with the k smallest md5-rank ids in rank order
    * ([[graft.ext.Embeddings]]'s `hashSpreadInit`/`kmeansSpread`).
    * Both engines therefore pick the identical rung AND the identical
    * seed set at every corpus size — the `adaptiveLshBitsSqlCase`
    * discipline applied to k-means. Ends in `fin(vec_id, cid)`.
    */
  private def kmeansSpreadCtes(iters: Int): String =
    s"""$kmeansHeaderCtes,
kk AS MATERIALIZED (
  SELECT LEAST(COUNT(*), GREATEST(8, (COUNT(*) + 255) // 256)) AS k
  FROM e),
c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cid, emb FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        vec_id) AS rn
    FROM e)
  WHERE rn <= (SELECT k FROM kk)),
${kmeansIterFinCtes(iters)}"""

  /** Deterministic-PCA oracle: reproduces
    * [[graft.ext.Embeddings.fitPcaDeterministic]] BIT-FOR-BIT in
    * DuckDB — exact-integer moments (qx = ⌊x·10⁷⌋), integer
    * covariance cells, then per component a fixed-budget recursive-CTE
    * power iteration whose only floating ops are on
    * exactly-representable integers (Σys² ≤ 64·10¹⁴ < 2⁵³) with
    * IEEE-correctly-rounded sqrt/÷ — identical doubles, identical
    * floors, identical model. `//` is trunc division, matching the
    * Scala side's BigInt/Long `/`.
    */
  private def pcaOracleSql(dim: Int, k: Int, iters: Int): String = {
    val d2 = dim * dim
    val v0 = (1 to dim).map(i => 1250000 + i).mkString("[", ", ", "]")
    // The power step is staged through nested derived tables so each
    // intermediate (y, s, ys, n2) is evaluated ONCE per iteration — a
    // naive textual inlining makes the engine re-evaluate the whole
    // M·v subtree per list element (O(d³) per step: observed minutes
    // instead of milliseconds). The s=0 (zero matrix) guard keeps the
    // dummy divisor 1 so the discarded ys can't divide by zero.
    val compCtes = (1 to k).map { c =>
      s"""it$c AS (
  SELECT 0 AS t, $v0::BIGINT[] AS v
  UNION ALL
  SELECT t + 1,
    CASE WHEN s = 0 THEN v ELSE
      list_transform(ys, a -> CAST(FLOOR((CAST(a AS DOUBLE) * 10000000e0)
        / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)) END
  FROM (
    SELECT t, v, s, ys,
      list_sum(list_transform(ys, a -> a * a)) AS n2
    FROM (
      SELECT t, v, s,
        list_transform(y, a -> (a * 10000000)
          // (CASE WHEN s = 0 THEN 1 ELSE s END)) AS ys
      FROM (
        SELECT t, v, y,
          list_max(list_transform(y, a -> abs(a))) AS s
        FROM (
          SELECT t, v,
            list_transform(range(0, $dim), i ->
              list_sum(list_transform(range(0, $dim), j ->
                m[i * $dim + j + 1] * v[j + 1]))) AS y
          FROM it$c, m$c WHERE t < $iters))))),
c${c}raw AS MATERIALIZED (SELECT v FROM it$c WHERE t = $iters),
c$c AS MATERIALIZED (
  SELECT CASE WHEN v[list_position(list_transform(v, a -> abs(a)),
      list_max(list_transform(v, a -> abs(a))))] < 0
    THEN list_transform(v, a -> -a) ELSE v END AS v
  FROM c${c}raw),
l$c AS MATERIALIZED (
  SELECT CAST(list_sum(list_transform(range(0, $d2), t ->
      m[t + 1]::HUGEINT * v[t // $dim + 1] * v[t % $dim + 1]))
    // 100000000000000 AS BIGINT) AS lam, v
  FROM c$c, m$c),
m${c + 1} AS MATERIALIZED (
  SELECT list_transform(range(0, $d2), t ->
    m[t + 1] - CAST((lam::HUGEINT * v[t // $dim + 1] * v[t % $dim + 1])
      // 100000000000000 AS BIGINT)) AS m
  FROM l$c, m$c)"""
    }.mkString(",\n")
    val pcCols = (1 to k).map { c =>
      s"""CAST(((list_sum(list_transform(range(1, ${dim + 1}), i ->
    qx[i] * w$c[i]))
    - list_sum(list_transform(range(1, ${dim + 1}), i ->
        mu[i] * w$c[i])))
    // 1000000) AS DOUBLE) / 100000000e0 AS pc$c"""
    }.mkString(",\n  ")
    val wJoins = (1 to k)
      .map(c => s"CROSS JOIN (SELECT v AS w$c FROM c$c) t$c").mkString("\n  ")
    s"""WITH RECURSIVE q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x ->
    CAST(FLOOR(CAST(x AS DOUBLE) * 10000000e0) AS BIGINT)) AS qx
  FROM embeddings),
cnt AS MATERIALIZED (SELECT COUNT(*) AS n FROM q),
svec AS MATERIALIZED (
  SELECT i, SUM(qx[i]) AS s
  FROM q CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY i),
mom AS MATERIALIZED (
  SELECT ti.i, tj.j, SUM(qx[ti.i] * qx[tj.j]) AS p
  FROM q CROSS JOIN range(1, ${dim + 1}) ti(i)
    CROSS JOIN range(1, ${dim + 1}) tj(j)
  WHERE tj.j >= ti.i GROUP BY ti.i, tj.j),
grid AS MATERIALIZED (
  SELECT gi.i, gj.j,
    CAST(((cnt.n::HUGEINT * mom.p - si.s::HUGEINT * sj.s) * 1000000)
      // (cnt.n::HUGEINT * (cnt.n - 1) * 100000000000000) AS BIGINT) AS mc
  FROM range(1, ${dim + 1}) gi(i) CROSS JOIN range(1, ${dim + 1}) gj(j)
  CROSS JOIN cnt
  JOIN mom ON mom.i = LEAST(gi.i, gj.j) AND mom.j = GREATEST(gi.i, gj.j)
  JOIN svec si ON si.i = gi.i JOIN svec sj ON sj.i = gj.j),
m1 AS MATERIALIZED (SELECT list(mc ORDER BY i, j) AS m FROM grid),
mu AS MATERIALIZED (
  SELECT list(CAST(s // n AS BIGINT) ORDER BY i) AS mu
  FROM svec CROSS JOIN cnt),
$compCtes
SELECT vec_id,
  $pcCols
FROM q CROSS JOIN mu
  $wJoins"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Int8 scalar quantization of the embedding corpus (per-dim
    // min/max codes, exact integer digests per vector).
    QueryDef("q_embed_quantize", (s, dir) =>
      graft.ext.Embeddings.quantizeInt8(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |dims AS (SELECT UNNEST(range(1, 65)) AS i),
        |mn AS (
        |  SELECT d.i, MIN(e.emb[d.i]) AS mn, MAX(e.emb[d.i]) AS mx
        |  FROM e CROSS JOIN dims d GROUP BY d.i),
        |codes AS (
        |  SELECT e.vec_id,
        |    CASE WHEN m.mx = m.mn THEN 0
        |      ELSE LEAST(255, CAST(FLOOR((e.emb[m.i] - m.mn) * 255e0
        |        / (m.mx - m.mn)) AS BIGINT)) END AS code
        |  FROM e CROSS JOIN mn m)
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |  CAST(MIN(code) AS BIGINT) AS code_min,
        |  CAST(MAX(code) AS BIGINT) AS code_max
        |FROM codes GROUP BY 1""".stripMargin),

    // Per-dim embedding health: exact quantized variance + bounds
    // from DECIMAL(38,0) integer moments (dead-dim diagnostic).
    QueryDef("q_embed_health", (s, dir) =>
      graft.ext.Embeddings.dimHealth(
        Tables.embeddings(s, dir), "embedding", dim = 64),
      // Exact-integer covariance-diagonal at 1e6 scale; HUGEINT sums,
      // trunc division (num >= 0, so trunc == floor).
      """WITH e AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(FLOOR(x * 1e7) AS BIGINT)) AS qe FROM embeddings),
        |x AS (
        |  SELECT CAST(i - 1 AS INT) AS dim, qe[i] AS qx
        |  FROM e, unnest(range(1, 65)) t(i)),
        |m AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(qx) AS s,
        |    SUM(qx * qx) AS p, MIN(qx) AS qmin, MAX(qx) AS qmax
        |  FROM x GROUP BY 1)
        |SELECT dim, n,
        |  CAST((n * p - s * s) // (n * (n - 1) * 100000000) AS BIGINT)
        |    AS var_q6,
        |  qmin, qmax
        |FROM m""".stripMargin),

    // [EXT] Embeddings: PCA — one mergeable EXACT-integer moments pass
    // (constant state), driver-side 64x64 quantized power iteration
    // with deflation, then a shuffle-free all-integer projection.
    // Oracled since r9 (no_oracle dropped): every model decision is
    // exact-integer or exactly-representable-double arithmetic, so the
    // oracle reproduces the fit bit-for-bit with a recursive CTE
    // (pcaOracleSql) — the kmeans quantization discipline applied to
    // eigendecomposition.
    QueryDef("q_pca_project", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.Embeddings.fitPcaDeterministic(
        emb, "embedding", dim = 64, k = PcaK)
      graft.ext.Embeddings.projectDeterministic(emb, "embedding", model)
        .select("vec_id", "pc1", "pc2", "pc3")
    },
      pcaOracleSql(dim = 64, k = PcaK,
      iters = graft.ext.Embeddings.DetIters)),

    // [EXT] Embeddings: Lloyd's k-means (farthest-point init, one
    // mergeable aggregate per pass). Oracled since r7: quantized
    // distances + exact integer centroid sums make every iteration
    // bit-reproducible, so the oracle unrolls init + 3 Lloyd passes
    // in SQL (kmeansOracleSql), like the PageRank oracle.
    QueryDef("q_kmeans_assign", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, assigned) = graft.ext.Embeddings.kmeans(
        emb, "vec_id", "embedding", dim = 64, k = KmeansK, iters = KmeansIters)
      assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n_vectors"))
    },
      kmeansOracleSql),

    // [EXT] SemDeDup: embedding-space semantic dedup — kmeans
    // clusters (bit-reproducible), then within-cluster cosine pruning
    // against lower-id clustermates. k is CORPUS-SIZED
    // (Dedup.semDeDupK of the memoized embeddings count — E[n_c]≈256,
    // so the within-cluster pair join stays linear at any scale; 8 at
    // every test SF). Oracle reuses the unrolled spread-seeded kmeans
    // chain, whose COUNT(*)-derived k picks the identical rung, and
    // mirrors the 6-dp cosine.
    QueryDef("q_semdedup", (s, dir) =>
      Dedup.semDeDup(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64,
        k = Dedup.semDeDupK(embCountFor(dir, Tables.embeddings(s, dir))),
        iters = SemDedupIters, threshold = 0.4),
      // Corpus-sized unrolled kmeans chain (k from COUNT(*), md5-rank
      // seeds — k-agnostic text so the same SQL follows the data);
      // then within-cluster lower-id pairs with the repo-standard
      // ROUND(cosine, 6).
      s"""WITH ${kmeansSpreadCtes(SemDedupIters)},
        |p AS (
        |  SELECT a.vec_id AS ida,
        |    ROUND(list_inner_product(ea.emb, eb.emb)
        |      / (sqrt(list_inner_product(ea.emb, ea.emb))
        |         * sqrt(list_inner_product(eb.emb, eb.emb))), 6) AS c
        |  FROM fin a JOIN fin b ON a.cid = b.cid AND b.vec_id < a.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |m AS (SELECT ida, MAX(c) AS max_prior_sim FROM p GROUP BY ida)
        |SELECT f.vec_id, f.cid AS cluster, m.max_prior_sim,
        |  (m.max_prior_sim IS NULL OR m.max_prior_sim < 0.4) AS kept
        |FROM fin f LEFT JOIN m ON m.ida = f.vec_id""".stripMargin),
  )
}
