package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Olap
import graft.plans.Ordinal
import Shared.lnSqlChain

/** [EXT] Warehouse reporting through `graft.ext.Olap` and `Sketches`:
  * grouping sets, pivots, column profiles, histograms, entropy, chi-square,
  * mutual information, correlation, approximate counting and data-layout
  * keys.
  */
object OlapQueries {

  val defs: Seq[QueryDef] = Seq(

    // [EXT] OLAP: ROLLUP grouping sets — one Expand + one hash
    // aggregate pass regardless of level count; gid is the standard
    // GROUPING() bit vector.
    QueryDef("q_rollup_sales", (s, dir) =>
      Olap.rollupSum(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice"),
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // [EXT] OLAP: pivot with pinned values (single hash aggregate, no
    // collect-distinct pre-pass).
    QueryDef("q_pivot_status", (s, dir) =>
      Olap.pivotSum(
        Tables.orders(s, dir),
        date_format(col("o_orderdate"), "yyyy-MM"), "month",
        "o_orderstatus", Seq("O", "F", "P"), "o_totalprice"),
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS sum_o,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS sum_f,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS sum_p
        |FROM orders GROUP BY 1""".stripMargin),

    // [EXT] OLAP: exact one-pass column profile (null/distinct/min/max
    // per column) — the data-quality dashboard query.
    QueryDef("q_profile_columns", (s, dir) =>
      Olap.profile(
        Tables.events(s, dir),
        Seq(
          "event_id" -> Olap.AsLong,
          "ts" -> Olap.AsTimestamp,
          "user_id" -> Olap.AsLong,
          "event_type" -> Olap.AsString,
          "value" -> Olap.AsDouble,
          "props" -> Olap.AsString)),
      """WITH p AS (
        |  SELECT 'event_id' AS col_name,
        |    COUNT(*) - COUNT(event_id) AS n_nulls,
        |    COUNT(DISTINCT event_id) AS n_distinct,
        |    CAST(MIN(event_id) AS VARCHAR) AS min_val,
        |    CAST(MAX(event_id) AS VARCHAR) AS max_val
        |  FROM events
        |  UNION ALL SELECT 'ts',
        |    COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
        |    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f'),
        |    strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f')
        |  FROM events
        |  UNION ALL SELECT 'user_id',
        |    COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
        |    CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        |  FROM events
        |  UNION ALL SELECT 'event_type',
        |    COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
        |    MIN(event_type), MAX(event_type)
        |  FROM events
        |  UNION ALL SELECT 'value',
        |    COUNT(*) - COUNT(value), COUNT(DISTINCT value),
        |    printf('%.4f', ROUND(MIN(value), 4)), printf('%.4f', ROUND(MAX(value), 4))
        |  FROM events
        |  UNION ALL SELECT 'props',
        |    COUNT(*) - COUNT(props), COUNT(DISTINCT props),
        |    MIN(props), MAX(props)
        |  FROM events)
        |SELECT * FROM p""".stripMargin),

    // [EXT] OLAP: fixed-width histogram; power-of-two width makes bin
    // assignment an exact binary scaling (cross-engine bit-identical).
    QueryDef("q_histogram", (s, dir) =>
      Olap.histogram(Tables.orders(s, dir), "o_totalprice", width = 16384L),
      """SELECT CAST(FLOOR(o_totalprice / 16384.0) AS BIGINT) AS bin,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  CAST(CAST(FLOOR(o_totalprice / 16384.0) AS BIGINT) * 16384 AS DOUBLE) AS bin_lo
        |FROM orders
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // [EXT] OLAP: per-source language-diversity entropy (dataset-card
    // monoculture check).
    QueryDef("q_cat_entropy", (s, dir) =>
      graft.ext.Olap.categoricalEntropy(
        Tables.documents(s, dir), Seq("source"), "lang"),
      // -p·ln(p) with the deterministic-ln chain (bit-parity with
      // Olap.categoricalEntropy's DetMath.lnq).
      s"""WITH cells AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT source, nc,
        |        SUM(nc) OVER (PARTITION BY source) AS n
        |      FROM cells),
        |lx AS (
        |  SELECT source, n,
        |    CAST(nc AS DOUBLE) / n AS pp,
        |    pp AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM m)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats,
        |  CAST(SUM(CAST(FLOOR((-pp * __lnx)
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS entropy_nats
        |FROM lx GROUP BY source""".stripMargin),

    // [EXT] OLAP: chi-square independence statistic (MI's test
    // sibling) over the full marginal grid incl. zero cells.
    QueryDef("q_chi_square", (s, dir) =>
      graft.ext.Olap.chiSquare(
        Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).as("dow")),
        "event_type", "dow"),
      """WITH cells AS (
        |  SELECT event_type AS x, dayofweek(ts) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
        |ys AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |          (SELECT CAST(COUNT(*) AS BIGINT) FROM xs) AS kx,
        |          (SELECT CAST(COUNT(*) AS BIGINT) FROM ys) AS ky FROM cells),
        |g AS (
        |  SELECT xs.nx, ys.ny, COALESCE(c.nxy, 0) AS o
        |  FROM xs CROSS JOIN ys
        |  LEFT JOIN cells c ON c.x IS NOT DISTINCT FROM xs.x
        |                   AND c.y IS NOT DISTINCT FROM ys.y)
        |SELECT n, kx * ky AS n_cells, (kx - 1) * (ky - 1) AS dof,
        |  CAST(SUM(CAST(FLOOR(
        |    ((CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |    * (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |    / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n))
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS chi2,
        |  CASE WHEN LEAST(kx, ky) > 1 THEN
        |    CAST(FLOOR(sqrt((CAST(SUM(CAST(FLOOR(
        |      ((CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |      * (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n))
        |      * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12)
        |      / (CAST(n AS DOUBLE) * CAST(LEAST(kx, ky) - 1 AS DOUBLE)))
        |      * 1e6) AS DOUBLE) / 1e6
        |  END AS cramers_v
        |FROM g CROSS JOIN tot GROUP BY 1, 2, 3, LEAST(kx, ky)""".stripMargin),

    // [EXT] OLAP: mutual information (leakage/redundancy detector)
    // between event type and day-of-week.
    QueryDef("q_mutual_info", (s, dir) =>
      graft.ext.Olap.mutualInformation(
        Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).as("dow")),
        "event_type", "dow"),
      // p(xy)·ln(p(xy)/(p(x)p(y))) with the deterministic-ln chain
      // (bit-parity with Olap.mutualInformation's DetMath.lnq).
      s"""WITH cells AS (
        |  SELECT event_type AS x, dayofweek(ts) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT nxy,
        |    SUM(nxy) OVER (PARTITION BY x) AS nx,
        |    SUM(nxy) OVER (PARTITION BY y) AS ny
        |  FROM cells),
        |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |          CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
        |lx AS (
        |  SELECT n, n_cells, nxy,
        |    CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM m CROSS JOIN tot)
        |SELECT n, n_cells,
        |  CAST(SUM(CAST(FLOOR(
        |    (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE) * __lnx)
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS mi_nats
        |FROM lx GROUP BY 1, 2""".stripMargin),

    // [EXT] OLAP: per-type Spearman rank correlation between value and
    // hour-of-day — exact doubled midranks (the Mann–Whitney device),
    // decimal moments, group-partitioned rank windows only.
    QueryDef("q_spearman", (s, dir) =>
      graft.ext.Olap.spearman(
        Tables.events(s, dir).select(
          col("event_type"), col("value"), hour(col("ts")).as("hod")),
        Seq("event_type"), "value", "hod"),
      // Spearman mirrored: doubled midranks as HUGEINT (Spark's
      // DECIMAL(38,0)), per-group window prefix over the per-value
      // counts, identical double chain, FLOOR-quantized.
      """WITH r AS (
        |  SELECT event_type AS g, value AS x, EXTRACT(hour FROM ts) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cx AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM r GROUP BY 1, 2),
        |rx AS (SELECT g, x,
        |         CAST(2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |           + cnt + 1 AS HUGEINT) AS ra
        |       FROM cx),
        |cy AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM r GROUP BY 1, 2),
        |ry AS (SELECT g, y,
        |         CAST(2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |           + cnt + 1 AS HUGEINT) AS rb
        |       FROM cy),
        |j AS (SELECT r.g, rx.ra, ry.rb
        |      FROM r JOIN rx ON rx.g = r.g AND rx.x = r.x
        |      JOIN ry ON ry.g = r.g AND ry.y = r.y),
        |m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(ra) AS DOUBLE) AS sa,
        |        CAST(SUM(rb) AS DOUBLE) AS sb,
        |        CAST(SUM(ra * ra) AS DOUBLE) AS saa,
        |        CAST(SUM(rb * rb) AS DOUBLE) AS sbb,
        |        CAST(SUM(ra * rb) AS DOUBLE) AS sab
        |      FROM j GROUP BY 1)
        |SELECT g AS event_type, n,
        |  CASE WHEN CAST(n AS DOUBLE) * saa - sa * sa > 0
        |        AND CAST(n AS DOUBLE) * sbb - sb * sb > 0 THEN
        |    FLOOR((CAST(n AS DOUBLE) * sab - sa * sb)
        |      / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
        |        * (CAST(n AS DOUBLE) * sbb - sb * sb)) * 1e6) / 1e6
        |  END AS rho
        |FROM m""".stripMargin),

    // [EXT] OLAP: exact Pearson correlation matrix (decimal-exact
    // moments — partition order cannot perturb the coefficients).
    QueryDef("q_corr_matrix", (s, dir) =>
      Olap.correlationMatrix(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // DECIMAL(19,6), not (18,6): DuckDB's decimal multiply keeps the
      // max INPUT precision when both operands fit int64 (18,6 × 18,6 →
      // DECIMAL(18,12) — overflows on real prices); precision 19 forces
      // the hugeint path (→ DECIMAL(38,12), exact). The values are
      // identical to Spark's decimal(18,6) products — both are exact.
      """WITH c AS (
        |  SELECT CAST(l_quantity AS DECIMAL(19,6)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(19,6)) AS e,
        |    CAST(l_discount AS DECIMAL(19,6)) AS d,
        |    CAST(l_tax AS DECIMAL(19,6)) AS t
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(e) AS DOUBLE) AS se,
        |    CAST(SUM(d) AS DOUBLE) AS sd, CAST(SUM(t) AS DOUBLE) AS st,
        |    CAST(SUM(q*q) AS DOUBLE) AS pqq, CAST(SUM(q*e) AS DOUBLE) AS pqe,
        |    CAST(SUM(q*d) AS DOUBLE) AS pqd, CAST(SUM(q*t) AS DOUBLE) AS pqt,
        |    CAST(SUM(e*e) AS DOUBLE) AS pee, CAST(SUM(e*d) AS DOUBLE) AS ped,
        |    CAST(SUM(e*t) AS DOUBLE) AS pet, CAST(SUM(d*d) AS DOUBLE) AS pdd,
        |    CAST(SUM(d*t) AS DOUBLE) AS pdt, CAST(SUM(t*t) AS DOUBLE) AS ptt
        |  FROM c)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  ROUND((n*pqe - sq*se) / sqrt((n*pqq - sq*sq) * (n*pee - se*se)), 6) AS corr FROM a
        |UNION ALL SELECT 'l_quantity', 'l_discount',
        |  ROUND((n*pqd - sq*sd) / sqrt((n*pqq - sq*sq) * (n*pdd - sd*sd)), 6) FROM a
        |UNION ALL SELECT 'l_quantity', 'l_tax',
        |  ROUND((n*pqt - sq*st) / sqrt((n*pqq - sq*sq) * (n*ptt - st*st)), 6) FROM a
        |UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  ROUND((n*ped - se*sd) / sqrt((n*pee - se*se) * (n*pdd - sd*sd)), 6) FROM a
        |UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  ROUND((n*pet - se*st) / sqrt((n*pee - se*se) * (n*ptt - st*st)), 6) FROM a
        |UNION ALL SELECT 'l_discount', 'l_tax',
        |  ROUND((n*pdt - sd*st) / sqrt((n*pdd - sd*sd) * (n*ptt - st*st)), 6) FROM a""".stripMargin),

    // [EXT] OLAP: CUBE grouping sets — all 2^n levels from one Expand
    // pass, same shape as q_rollup_sales.
    QueryDef("q_cube_sales", (s, dir) =>
      Olap.cubeSum(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice"),
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // [EXT] Portable HyperLogLog distinct estimate (b=9, 512 registers)
    // — exact-integer register summary, bit-identical sketch in DuckDB.
    QueryDef("q_approx_distinct", (s, dir) =>
      graft.ext.Sketches.approxDistinct(
        Tables.lineitem(s, dir), Seq("l_returnflag"), "l_orderkey", b = 9),
      """WITH h AS (
        |  SELECT l_returnflag AS g,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |r AS (
        |  SELECT g, h // 2251799813685248 AS bucket,
        |    CASE WHEN h % 2251799813685248 = 0 THEN 52
        |         ELSE 52 - length(bin(h % 2251799813685248)) END AS rank
        |  FROM h),
        |regs AS (SELECT g, bucket, MAX(rank) AS M FROM r GROUP BY 1, 2),
        |s AS (SELECT g, SUM(1::BIGINT << (52 - M)) AS s_live,
        |        COUNT(*) AS live
        |      FROM regs GROUP BY 1)
        |SELECT g AS l_returnflag,
        |  ROUND(CASE WHEN raw <= 1280.0 AND V > 0
        |    THEN 512.0 * ln(512.0 / V) ELSE raw END, 4) AS approx_distinct
        |FROM (SELECT g, (512 - live) AS V,
        |    (0.7213/(1.0 + 1.079/512.0))*512.0*512.0*4503599627370496.0
        |      / CAST(s_live + (512 - live) * 4503599627370496 AS DOUBLE)
        |      AS raw
        |  FROM s)""".stripMargin),

    // [EXT] Count-Min sketch (portable 4×256 counter table, exact
    // integer cells) probed for the exact top-20 users: the mergeable
    // heavy-hitter shape — estimate >= exact, collisions only add.
    QueryDef("q_countmin", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sketch = graft.ext.Sketches.countMin(
        ev, "user_id", depth = 4, width = 256)
      val top = ev.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("user_id").asc)
        .limit(20)
      graft.ext.Sketches.countMinEstimate(sketch, top, "user_id", 4, 256)
    },
      """WITH k AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |sk AS (
        |  SELECT i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || k), 1, 15))::BIGINT
        |      % 256 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM k CROSS JOIN d GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY user_id ORDER BY exact_count DESC, user_id ASC LIMIT 20),
        |probe AS (
        |  SELECT t.user_id, t.exact_count, d.i,
        |    ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':'
        |      || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM top t CROSS JOIN d)
        |SELECT p.user_id, p.exact_count, MIN(s.cnt) AS cms_estimate
        |FROM probe p JOIN sk s ON s.i = p.i AND s.bucket = p.bucket
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Zone map over the Morton curve: the data-skipping stats
    // table (per-cell min/max/count of both dims), quad-tree level 18.
    QueryDef("q_zone_map", (s, dir) =>
      graft.sink.ZOrderedLake.zoneMap(
        Tables.lineitem(s, dir), "l_partkey", "l_suppkey",
        bits = 16, zoneBits = 18),
      {
        val x = "(l_partkey & 65535)"
        val y = "(l_suppkey & 65535)"
        val terms = (0 until 16).flatMap { i =>
          Seq(s"((($x >> $i) & 1) << ${2 * i})",
            s"((($y >> $i) & 1) << ${2 * i + 1})")
        }
        s"""SELECT (${terms.mkString(" | ")}) >> 14 AS zone,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  MIN(l_partkey) AS l_partkey_min, MAX(l_partkey) AS l_partkey_max,
           |  MIN(l_suppkey) AS l_suppkey_min, MAX(l_suppkey) AS l_suppkey_max
           |FROM lineitem GROUP BY 1""".stripMargin
      }),

    // [EXT] Scale-safe global NTILE: standard ntile semantics from the
    // distributed ordinal, not a single-partition window.
    QueryDef("q_ntile_deciles", (s, dir) =>
      Ordinal.withNtile(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice"), col("o_orderkey")), k = 10,
        outCol = "decile"),
      """SELECT o_orderkey, o_totalprice,
        |  NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        |FROM orders""".stripMargin),

    // [EXT] Z-order (Morton) clustering key for data-skipping layouts;
    // the oracle recomputes the interleave with plain SQL bit ops.
    QueryDef("q_zorder_key", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.BitExprs.zOrder2(
          col("l_partkey"), col("l_suppkey"), bits = 16).as("zval")),
      {
        val x = "(l_partkey & 65535)"
        val y = "(l_suppkey & 65535)"
        val terms = (0 until 16).flatMap { i =>
          Seq(s"((($x >> $i) & 1) << ${2 * i})",
            s"((($y >> $i) & 1) << ${2 * i + 1})")
        }
        s"""SELECT l_orderkey, l_linenumber,
           |  ${terms.mkString(" | ")} AS zval
           |FROM lineitem""".stripMargin
      }),
  )
}
