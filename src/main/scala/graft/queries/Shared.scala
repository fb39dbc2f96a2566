package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextStats}

/** Helpers that two or more query families use: the events-analog validity
  * predicate and the oracle SQL generators that several families' oracles
  * embed. A helper that one family alone uses lives in that family.
  */
object Shared {

  // ---- events-analog validation predicate (V1-V5 on the testdata) ----
  private[queries] val ValueLo = 0.0
  private[queries] val ValueHi = 200.0

  private[graft] def valueValid: Column =
    col("value").isNotNull && col("value").between(ValueLo, ValueHi)

  /** DuckDB oracle for q_dedup_minhash, generated from the SAME hash
    * family as [[Dedup.portableMinHashNearDuplicates]]'s signatures
    * (seeds inlined below via [[Dedup.portableSeeds]]).
    */
  private[queries] def minHashOracleSql: String = {
    val P = Dedup.PortableP
    val seeds = Dedup.portableSeeds(16)
    val slotDefs = seeds.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((m * $a + $b) % $P) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { band =>
      val key = (band * 4 until band * 4 + 4).map(i => s"h$i").mkString(" || ':' || ")
      s"SELECT doc_id, $band AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
t AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, len(tk) - 2),
    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
  FROM toks),
e AS (SELECT doc_id, unnest(shingles) AS sh FROM t),
h AS (SELECT doc_id,
    ('0x' || substr(md5(sh), 1, 15))::BIGINT % $P AS m FROM e),
sig AS (
  SELECT doc_id,
    $slotDefs
  FROM h GROUP BY doc_id),
banded AS (
  $bandSelects),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
j AS (
  SELECT c.id_a, c.id_b,
    CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
      / CAST(len(ta.shingles) + len(tb.shingles)
             - len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN t ta ON ta.doc_id = c.id_a
  JOIN t tb ON tb.doc_id = c.id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5"""
  }

  /** SQL IN-list of [[TextStats.enStopwords]] — generated so the oracle
    * and the Spark side can never drift (same pattern as the MinHash
    * seeds and LSH hyperplanes).
    */
  private[queries] def stopwordSqlList: String =
    TextStats.enStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** DuckDB lateral-alias chain computing
    * [[graft.functions.DetMath.expq]] over a prior alias `in`,
    * emitting alias `out` — op-for-op the Spark tree (constants in
    * scientific notation / double quotients; see [[lnSqlChain]]).
    * DuckDB FLOOR returns DOUBLE where Spark's returns LONG — same
    * value, and the k·ln2 product is identical either way.
    */
  private[queries] def expSqlChain(in: String, out: String): String = {
    val (k, r, s) = (s"__ek$out", s"__er$out", s"__es$out")
    s"""FLOOR($in * (1e0 / 6.931471805599453e-1) + 5e-1) AS $k,
       |  $in - $k * 6.931471805599453e-1 AS $r,
       |  1e0 + $r * (1e0 + $r * ((1e0/2e0) + $r * ((1e0/6e0) +
       |    $r * ((1e0/24e0) + $r * ((1e0/120e0) + $r * ((1e0/720e0) +
       |    $r * ((1e0/5040e0) + $r * ((1e0/40320e0) + $r * ((1e0/362880e0) +
       |    $r * ((1e0/3628800e0) + $r * ((1e0/39916800e0) +
       |    $r * (1e0/479001600e0)))))))))))) AS $s,
       |  $s * POWER(2e0, $k) AS $out""".stripMargin
  }

  /** The exact-integer score·10⁶ mirror of
    * [[graft.ext.TextStats.qualityScoreMicro]] — pure integer
    * arithmetic (`//` = Spark's proven-exact floored division), the
    * form to SUM when a hash-compared contract must stay
    * double-free.
    */
  private[queries] def qualityMicroSqlExpr: String =
    s"""(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
       |    + ((600000 * LEN(list_filter(str_split(TRIM(text), ' '),
       |         t -> t IN ${stopwordSqlList})) + LEN(str_split(TRIM(text), ' ')))
       |       // (2 * LEN(str_split(TRIM(text), ' ')))))""".stripMargin

  /** [[TextStats.qualityScore]] as DuckDB SQL over a column `text` —
    * the same exact-integer definition (score·10⁶ = 7000·min(t,100) +
    * ⌊(600000·sw + t)/(2t)⌋, native integer `//` here, exact
    * floor-of-double-division on the Spark side — equal integers, see
    * the Scala doc), then one exact ÷10⁶ into DOUBLE.
    */
  private[queries] def qualitySqlExpr: String =
    s"(CAST($qualityMicroSqlExpr AS DOUBLE) / 1e6)"

  /** DuckDB lateral-column-alias chain computing
    * [[graft.functions.DetMath.lnq]] — graft's cross-engine
    * deterministic ln — over an input column `in` (a prior alias in
    * the same SELECT, must be a bare identifier), emitting the result
    * as alias `out`. Op-for-op the same IEEE tree as the Spark side;
    * every inexact constant is written in scientific notation or as a
    * double quotient so DuckDB types it DOUBLE (a bare `2.0/3.0`
    * would be DECIMAL division — a DIFFERENT number). Intermediate
    * aliases are suffixed with `out` so two chains can share a
    * SELECT (the JSD oracle needs one per side).
    */
  private[queries] def lnSqlChain(in: String, out: String): String = {
    val (k0, m0, k, m, t, u, s) = (s"__k0$out", s"__m0$out", s"__k$out",
      s"__m$out", s"__t$out", s"__u$out", s"__s$out")
    s"""CAST(FLOOR(LOG2($in)) AS BIGINT) AS $k0,
       |  $in * POWER(2e0, -$k0) AS $m0,
       |  CASE WHEN $m0 >= 2e0 THEN $k0 + 1
       |       WHEN $m0 < 1e0 THEN $k0 - 1 ELSE $k0 END AS $k,
       |  CASE WHEN $m0 >= 2e0 THEN $m0 * 5e-1
       |       WHEN $m0 < 1e0 THEN $m0 * 2e0 ELSE $m0 END AS $m,
       |  ($m - 1e0) / ($m + 1e0) AS $t,
       |  $t * $t AS $u,
       |  $t * (2e0 + $u * ((2e0/3e0) + $u * ((2e0/5e0) + $u * ((2e0/7e0) +
       |    $u * ((2e0/9e0) + $u * ((2e0/11e0) + $u * ((2e0/13e0) +
       |    $u * ((2e0/15e0) + $u * ((2e0/17e0) + $u * ((2e0/19e0) +
       |    $u * ((2e0/21e0) + $u * (2e0/23e0)))))))))))) AS $s,
       |  $s + CAST($k AS DOUBLE) * 6.931471805599453e-1 AS $out""".stripMargin
  }

  /** [[graft.ext.Similarity.adaptiveLshBits]] as a DuckDB CASE over a
    * row count `n` — the same integer 256·2^b thresholds, so both
    * engines pick the identical rung at every corpus size.
    */
  private[queries] def adaptiveLshBitsSqlCase: String =
    (4 to 28 by 2)
      .map(b => s"WHEN n <= ${256L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 30 END")

  /** Ladder-bits bucketing CTEs over a prepared relation `e(vec_id,
    * emb)`: `nb` picks the rung from COUNT(*), `b` computes the
    * 30-plane bucket once and masks it to the chosen width (bucket
    * weights plane p by 2^p, so the low b bits ARE the b-plane
    * bucket — exactly what the Spark side evaluates directly).
    */
  private[queries] def adaptiveLshBucketedCte(dim: Int): String =
    s"""nb AS (SELECT $adaptiveLshBitsSqlCase AS ab
  FROM (SELECT COUNT(*) AS n FROM e)),
b AS (
  SELECT vec_id, emb,
    (${lshBucketSqlExpr(bits = 30, dim = dim)})
      % (1::BIGINT << (SELECT ab FROM nb)) AS bucket
  FROM e)"""

  /** The sign-LSH bucket id as DuckDB SQL over a column `emb`
    * (DOUBLE[]), with the SAME hyperplane constants as
    * [[Similarity.lshBucket]] inlined as literals.
    */
  private[queries] def lshBucketSqlExpr(bits: Int, dim: Int): String =
    (0 until bits).map { p =>
      val lits = Similarity.hyperplane(p, dim).mkString("[", ", ", "]")
      s"(CASE WHEN ROUND(list_inner_product(emb, $lits), 6) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
}
