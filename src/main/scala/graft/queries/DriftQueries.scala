package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import Shared.{valueValid, lnSqlChain}

/** [EXT] Distribution drift and time series through `graft.ext.Drift` and
  * `TimeSeries`: PSI, Jensen-Shannon, KS, Mann-Whitney and ROC AUC, rolling
  * anomalies, gap filling, motifs, autocorrelation, change points and
  * seasonality.
  */
object DriftQueries {

  /** DuckDB lateral-alias chain mirroring
    * [[graft.functions.DetMath.lnRatioFpBig]] — the EXACT-INTEGER
    * fixed-point ⌊ln(a/b)·10¹⁸⌋-class kernel — over prior aliases
    * `a`, `b` (positive BIGINTs, a ≥ b ≥ 1), emitting HUGEINT alias
    * `out`. Every op is an integer compare / multiply / truncating
    * divide (`//` on non-negative HUGEINTs = Spark's `div`), and the
    * Horner coefficients are the SAME pinned integer literals as
    * [[graft.functions.DetMath.LnFpCoeffs]] — both engines run the
    * identical integer program, so any engine VERSION reproduces the
    * value bit-for-bit: no double exists anywhere in the chain.
    */
  private def lnRatioFpSql(a: String, b: String, out: String): String = {
    val q = graft.functions.DetMath.FpQ
    val cs = graft.functions.DetMath.LnFpCoeffs
    val (k0, k, b2, t, u) = (s"__k0$out", s"__k$out", s"__b2$out",
      s"__t$out", s"__u$out")
    val acc = cs.indices.map(i => s"__a$i$out")
    val horner = (cs.size - 2 to 0 by -1).map { i =>
      s"  ${cs(i)}::HUGEINT + ($u * ${acc(i + 1)}) // $q AS ${acc(i)},"
    }.mkString("\n")
    s"""LENGTH(bin($a)) - LENGTH(bin($b)) AS $k0,
       |  CASE WHEN $a >= ($b << $k0) THEN $k0 ELSE $k0 - 1 END AS $k,
       |  ($b << $k) AS $b2,
       |  (($a - $b2)::HUGEINT * $q) // ($a + $b2) AS $t,
       |  ($t * $t) // $q AS $u,
       |  ${cs.last}::HUGEINT AS ${acc.last},
       |$horner
       |  ($t * ${acc.head}) // $q
       |    + $k::HUGEINT * ${graft.functions.DetMath.Ln2Fp} AS $out"""
      .stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // [EXT] PSI drift TREND: per-day PSI of the value distribution
    // against the first day — the monitoring table behind the
    // one-number q_psi_drift alarm.
    QueryDef("q_psi_daily", (s, dir) => {
      val ev = Tables.events(s, dir).filter(valueValid)
        .withColumn("day", to_date(col("ts")))
      val d0 = ev.agg(min(col("day")).as("__d0"))
      graft.ext.Drift.psiTrend(
        ev.join(broadcast(d0), col("day") === col("__d0"))
          .select(col("value")),
        ev.join(broadcast(d0), col("day") > col("__d0"))
          .select(col("day"), col("value")),
        "value", "day", width = 16L)
    },
      // Per-day grid = (ref bins ∪ day bins); same eps/quantized-term
      // chain as the pair PSI oracle, grouped by day.
      s"""WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, value FROM events
        |  WHERE value IS NOT NULL AND value BETWEEN 0e0 AND 2e2),
        |d0 AS (SELECT MIN(day) AS d0 FROM e),
        |r AS (
        |  SELECT CAST(FLOOR(value / 16e0) AS BIGINT) AS bin,
        |    COUNT(*) AS n_ref
        |  FROM e CROSS JOIN d0 WHERE day = d0 GROUP BY 1),
        |rt AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS nr FROM r),
        |c AS (
        |  SELECT day, CAST(FLOOR(value / 16e0) AS BIGINT) AS bin,
        |    COUNT(*) AS n_cur
        |  FROM e CROSS JOIN d0 WHERE day > d0 GROUP BY 1, 2),
        |ct AS (SELECT day, CAST(SUM(n_cur) AS BIGINT) AS nc
        |       FROM c GROUP BY 1),
        |gs AS (SELECT DISTINCT day FROM c),
        |grid AS (
        |  SELECT COALESCE(a.day, c.day) AS day,
        |    COALESCE(a.n_ref, 0) AS br, COALESCE(c.n_cur, 0) AS bc
        |  FROM (SELECT g.day, r.bin, r.n_ref FROM gs g CROSS JOIN r) a
        |  FULL JOIN c ON a.day = c.day AND a.bin = c.bin
        |  WHERE COALESCE(a.n_ref, 0) > 0 OR COALESCE(c.n_cur, 0) > 0),
        |lx AS (
        |  SELECT grid.day,
        |    (CASE WHEN bc = 0 THEN 1 ELSE bc END)
        |      * (CASE WHEN br = 0 THEN 1000000 ELSE rt.nr END) AS __ra,
        |    (CASE WHEN br = 0 THEN 1 ELSE br END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE ct.nc END) AS __rb,
        |    (CASE WHEN br = 0 THEN 1000000 ELSE rt.nr END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE ct.nc END) AS __m,
        |    GREATEST(__ra, __rb) AS __ga, LEAST(__ra, __rb) AS __gb,
        |    ABS(__ra - __rb) AS __d,
        |  ${lnRatioFpSql("__ga", "__gb", "__lnfp")}
        |  FROM grid JOIN ct USING (day) CROSS JOIN rt),
        |terms AS (
        |  SELECT day,
        |    (__d::HUGEINT * __lnfp) // (__m::HUGEINT * 1000000) AS term
        |  FROM lx)
        |SELECT t.day, CAST(SUM(t.term) AS DOUBLE) / 1e12 AS psi,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  (SELECT nr FROM rt) AS n_ref, ct.nc AS n_cur
        |FROM terms t JOIN ct ON ct.day = t.day
        |GROUP BY t.day, ct.nc""".stripMargin),

    // [EXT] Drift: Jensen–Shannon divergence of the event-type mix,
    // first half of the month vs the rest (categorical drift, bounded
    // by ln 2, defined even with absent categories).
    QueryDef("q_js_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      val split = lit("2024-01-16").cast("timestamp")
      graft.ext.Drift.jsDivergence(
        ev.filter(col("ts") < split),
        ev.filter(col("ts") >= split),
        "event_type")
    },
      // Half-KL logs via the deterministic-ln chain; an absent side
      // feeds dummy 1.0 (ln = exactly 0) and its 0.0 proportion factor
      // kills the term bit-exactly — mirrors Drift.jsDivergence.
      s"""WITH t AS (
        |  SELECT event_type AS c, 1 AS r, 0 AS q FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16'
        |  UNION ALL
        |  SELECT event_type, 0, 1 FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16'),
        |pc AS (SELECT c, CAST(SUM(r) AS BIGINT) AS cr,
        |         CAST(SUM(q) AS BIGINT) AS cq FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
        |          CAST(SUM(cq) AS BIGINT) AS n_cur,
        |          CAST(COUNT(*) AS BIGINT) AS n_cats FROM pc),
        |w AS (
        |  SELECT n_ref, n_cur, n_cats,
        |    CAST(cr AS DOUBLE) / n_ref AS pp,
        |    CAST(cq AS DOUBLE) / n_cur AS qq,
        |    (pp + qq) / 2.0 AS mm,
        |    CASE WHEN cr > 0 THEN pp / mm ELSE 1e0 END AS __xa,
        |    CASE WHEN cq > 0 THEN qq / mm ELSE 1e0 END AS __xb,
        |  ${lnSqlChain("__xa", "__lna")},
        |  ${lnSqlChain("__xb", "__lnb")},
        |    CAST(FLOOR((pp * __lna / 2.0 + qq * __lnb / 2.0)
        |      * 1e12) AS DECIMAL(20,0)) AS term
        |  FROM pc CROSS JOIN tot)
        |SELECT n_ref, n_cur, n_cats,
        |  CAST(SUM(term) AS DOUBLE) / 1e12 AS jsd
        |FROM w GROUP BY 1, 2, 3""".stripMargin),

    // [EXT] Drift: exact two-sample KS statistic — both empirical CDFs
    // in ONE distributed prefix pass (no single-partition window).
    QueryDef("q_ks_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.ksStatistic(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "error"),
        "value")
    },
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type = 'error' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb FROM t GROUP BY 1),
        |c AS (SELECT
        |        SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cuma,
        |        SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cumb
        |      FROM pv),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |          CAST(SUM(cb) AS BIGINT) AS n_b FROM pv)
        |SELECT n_a, n_b,
        |  CAST(FLOOR(MAX(ABS(CAST(cuma AS DOUBLE) / n_a
        |    - CAST(cumb AS DOUBLE) / n_b)) * 1e6) AS DOUBLE) / 1e6 AS ks_d
        |FROM c CROSS JOIN tot GROUP BY 1, 2""".stripMargin),

    // [EXT] Drift: exact Mann–Whitney U with midrank ties — the
    // rank-based "did one sample shift?" complement of KS; doubled
    // midranks keep every moment an exact integer (prefix-sum plan).
    QueryDef("q_mann_whitney", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.mannWhitney(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "value")
    },
      // Mann–Whitney mirrored: HUGEINT stands in for Spark's
      // DECIMAL(38,0) exact moments (both sides integer-exact); u_a and
      // z are the identical IEEE double chain on those exact values,
      // z FLOOR-quantized (round()-on-double diverges across engines).
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb,
        |         CAST(SUM(a) + SUM(b) AS BIGINT) AS cnt
        |       FROM t GROUP BY 1),
        |c AS (SELECT ca, cb, cnt,
        |        SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cum
        |      FROM pv),
        |g AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |        CAST(SUM(cb) AS BIGINT) AS n_b,
        |        SUM(CAST(ca AS HUGEINT) *
        |          CAST(2 * (cum - cnt) + cnt + 1 AS HUGEINT)) AS r2,
        |        SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT) * cnt - cnt)
        |          AS tt
        |      FROM c),
        |f AS (SELECT n_a, n_b,
        |        CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |        (CAST(r2 AS DOUBLE)
        |          - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2
        |          AS u_a,
        |        CAST(tt AS DOUBLE) AS tt FROM g)
        |SELECT n_a, n_b, u_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND
        |    na * nb / 12.0 * ((na + nb + 1)
        |      - tt / ((na + nb) * (na + nb - 1))) > 0
        |  THEN FLOOR((u_a - na * nb / 2)
        |    / sqrt(na * nb / 12.0 * ((na + nb + 1)
        |        - tt / ((na + nb) * (na + nb - 1)))) * 1e6) / 1e6
        |  END AS z
        |FROM f""".stripMargin),

    // [EXT] Drift: exact ROC AUC of value as a purchase-vs-rest score
    // — the Mann–Whitney U normalized by the pair count (rank
    // identity), same prefix-sum plan.
    QueryDef("q_roc_auc", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.rocAuc(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") =!= "purchase"),
        "value")
    },
      // ROC AUC mirrored: the q_mann_whitney CTE chain on the
      // purchase-vs-rest split, final select normalizes U by the exact
      // pair count, FLOOR-quantized.
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type <> 'purchase' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb,
        |         CAST(SUM(a) + SUM(b) AS BIGINT) AS cnt
        |       FROM t GROUP BY 1),
        |c AS (SELECT ca, cb, cnt,
        |        SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cum
        |      FROM pv),
        |g AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |        CAST(SUM(cb) AS BIGINT) AS n_b,
        |        SUM(CAST(ca AS HUGEINT) *
        |          CAST(2 * (cum - cnt) + cnt + 1 AS HUGEINT)) AS r2
        |      FROM c)
        |SELECT n_a AS n_pos, n_b AS n_neg,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    FLOOR((CAST(r2 AS DOUBLE)
        |        - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6) / 1e6
        |  END AS auc
        |FROM g""".stripMargin),

    // [EXT] Distribution drift (PSI) between the purchase segment and
    // the rest of the corpus: exact bin counts, decimal-summed terms.
    QueryDef("q_psi_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.psi(
        ev.filter(col("event_type") =!= "purchase"),
        ev.filter(col("event_type") === "purchase"),
        "value", width = 32L)
    },
      // The log-ratio is the deterministic-ln chain (lnSqlChain), NOT
      // libm ln() — bit-parity with DetMath.lnq on the Spark side. The
      // output is the integer micro-unit sum itself (psi_micro12
      // BIGINT): no DOUBLE crosses the hash boundary, so no
      // engine/version cast-or-division semantics can perturb it.
      // PURE-INTEGER mirror of [[graft.ext.Drift.psi]]: exact rational
      // proportions (eps = 1/10⁶ for an absent side), the exact-integer
      // fixed-point ln, truncating divides on non-negative operands —
      // no DOUBLE exists anywhere in either engine's computation, so no
      // engine-version drift can move the hash.
      s"""WITH r AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS n_ref
        |  FROM events WHERE value IS NOT NULL AND event_type <> 'purchase'
        |  GROUP BY 1),
        |c AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS n_cur
        |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(r.n_ref, 0) AS br, COALESCE(c.n_cur, 0) AS bc
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |t AS (
        |  SELECT CAST(SUM(br) AS BIGINT) AS n_ref,
        |    CAST(SUM(bc) AS BIGINT) AS n_cur, COUNT(*) AS n_bins FROM j),
        |rat AS (
        |  SELECT
        |    (CASE WHEN bc = 0 THEN 1 ELSE bc END)
        |      * (CASE WHEN br = 0 THEN 1000000 ELSE t.n_ref END) AS __ra,
        |    (CASE WHEN br = 0 THEN 1 ELSE br END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE t.n_cur END) AS __rb,
        |    (CASE WHEN br = 0 THEN 1000000 ELSE t.n_ref END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE t.n_cur END) AS __m
        |  FROM j CROSS JOIN t),
        |lx AS (
        |  SELECT GREATEST(__ra, __rb) AS __ga, LEAST(__ra, __rb) AS __gb,
        |    ABS(__ra - __rb) AS __d, __m,
        |  ${lnRatioFpSql("__ga", "__gb", "__lnfp")}
        |  FROM rat),
        |terms AS (
        |  SELECT (__d::HUGEINT * __lnfp) // (__m::HUGEINT * 1000000) AS term
        |  FROM lx)
        |SELECT CAST(SUM(term) AS BIGINT) AS psi_micro12,
        |  t.n_bins, t.n_ref, t.n_cur
        |FROM terms CROSS JOIN t
        |GROUP BY t.n_bins, t.n_ref, t.n_cur""".stripMargin),

    // [EXT] TimeSeries: rolling anomaly flags — each hour z-scored
    // against its key's trailing-24h baseline (self excluded) on the
    // dense spine; the diurnal-safe volume monitor.
    QueryDef("q_rolling_anomaly", (s, dir) =>
      graft.ext.TimeSeries.rollingAnomalies(
        Tables.events(s, dir), "event_type", "ts",
        frameHours = 24, threshold = 3.0),
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM c),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |      FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (
        |  SELECT t.event_type, h.hr, COALESCE(c.cnt, 0) AS cnt
        |  FROM t CROSS JOIN h
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr),
        |m AS (
        |  SELECT event_type, hr, cnt,
        |    COUNT(*) OVER w AS n, SUM(cnt) OVER w AS s1,
        |    SUM(cnt * cnt) OVER w AS s2
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, hr, cnt, CAST(n AS BIGINT) AS baseline_hours,
        |    CASE WHEN n >= 2 AND
        |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) > 0
        |      THEN ROUND((cnt - CAST(s1 AS DOUBLE) / n)
        |        / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
        |          / (n - 1)), 6)
        |    END AS z
        |  FROM m)
        |SELECT * FROM z WHERE ABS(z) > 3.0""".stripMargin),

    // [EXT] TimeSeries: dense gap-filled hourly series + trailing 24 h
    // moving average per type (windows run over the dense spine, not
    // the raw events).
    QueryDef("q_gapfill_rolling", (s, dir) =>
      graft.ext.TimeSeries.rollingHourlyAverage(
        Tables.events(s, dir), "event_type", "ts", frameHours = 24),
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM c),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (
        |  SELECT t.event_type, h.hr, COALESCE(c.cnt, 0) AS cnt
        |  FROM t CROSS JOIN h
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr)
        |SELECT event_type, hr, cnt,
        |  ROUND(CAST(SUM(cnt) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS avg_frame
        |FROM g
        |WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin),

    // [EXT] Time-series similarity search: top-10 day-windows of the
    // hourly click-value series most correlated with a linear ramp —
    // decimal-exact sliding moments keyed on window start.
    QueryDef("q_ts_motif", (s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "click" &&
          col("ts").isNotNull && col("value").isNotNull)
        .groupBy(expr("unix_micros(ts) div 3600000000").as("t"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("v"))
      graft.ext.TimeSeries.slidingCorrelation(
        series, "t", "v", (1 to 24).map(_.toDouble), k = 10)
    },
      // Ramp query pattern q_i = i+1, i in 0..23: Σq = 300, Σq² = 4900
      // exactly; the query-variance term folds to 27600.0 in both
      // engines. `//` is DuckDB integer division = Spark's `div`.
      """WITH s AS (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |q AS (SELECT i, CAST(1.0 + i AS DECIMAL(18,6)) AS q
        |      FROM range(24) r(i)),
        |e AS (
        |  SELECT s.t - q.i AS start,
        |    CAST(s.v AS DECIMAL(19,4)) AS v, CAST(q.q AS DECIMAL(19,6)) AS q
        |  FROM s CROSS JOIN q),
        |g AS (
        |  SELECT start, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS sv,
        |    CAST(SUM(v*v) AS DOUBLE) AS svv,
        |    CAST(SUM(v*q) AS DOUBLE) AS svq
        |  FROM e GROUP BY 1 HAVING COUNT(*) = 24)
        |SELECT start,
        |  ROUND((24 * svq - sv * 300.0)
        |    / sqrt((24 * svv - sv * sv) * (24 * 4900.0 - 300.0 * 300.0)), 6)
        |    AS corr
        |FROM g ORDER BY corr DESC, start LIMIT 10""".stripMargin),

    // [EXT] Seasonality diagnostic: sample autocorrelation of the
    // daily order-revenue series at lags 1..7 — lag-aligned by
    // self-equi-join (never an unpartitioned window), decimal-exact
    // moments, floor-quantized coefficients.
    QueryDef("q_acf", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
        .select(
          datediff(col("o_orderdate"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("t"),
          col("x"))
      graft.ext.TimeSeries.autocorrelation(daily, "t", "x", maxLag = 7)
    },
      // ACF closed form mirrored exactly: decimal moments cast to double
      // once, the mean-cleared numerator n²C − nS(A+B) + mS² over
      // n(n·Σx² − S²), FLOOR-quantized (both engines floor the same
      // IEEE double; round() implementations differ).
      """WITH d AS (
        |  SELECT datediff('day', DATE '1992-01-01', o_orderdate) AS t,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,6)) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS s,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM d),
        |lags AS (SELECT i + 1 AS lag FROM range(7) r(i)),
        |p AS (
        |  SELECT l.lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(a.x * b.x) AS DOUBLE) AS c,
        |    CAST(SUM(a.x) AS DOUBLE) AS sa,
        |    CAST(SUM(b.x) AS DOUBLE) AS sb
        |  FROM lags l
        |  CROSS JOIN d a
        |  JOIN d b ON b.t = a.t - l.lag
        |  GROUP BY 1)
        |SELECT l.lag, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  CASE WHEN t.n * (t.n * t.sxx - t.s * t.s) <> 0 THEN
        |    FLOOR((t.n * t.n * p.c - t.n * t.s * (p.sa + p.sb)
        |           + p.n_pairs * t.s * t.s)
        |      / (t.n * (t.n * t.sxx - t.s * t.s)) * 1e6) / 1e6
        |  END AS acf
        |FROM lags l LEFT JOIN p ON p.lag = l.lag CROSS JOIN tot t""".stripMargin),

    // [EXT] Volume change-point: the day the event-stream level
    // shifted, by the standardized two-segment contrast over exact
    // integer daily counts — distributed prefix sums, one-row argmax.
    QueryDef("q_changepoint", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.changepoint(daily, "t", "cnt")
    },
      // Change-point mirrored: DuckDB's window prefix sums stand in for
      // plans/Prefix; all moments are exact integers, the statistic is
      // one division + sqrt on them, FLOOR-quantized, tie on earliest t.
      """WITH d AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    COUNT(*) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT t, SUM(x) OVER (ORDER BY t) AS sl,
        |    ROW_NUMBER() OVER (ORDER BY t) AS i
        |  FROM d),
        |tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM d)
        |SELECT r.t AS split_t, r.i AS n_left, t.n - r.i AS n_right,
        |  FLOOR(r.sl / CAST(r.i AS DOUBLE) * 1e6) / 1e6 AS mean_left,
        |  FLOOR((t.s - r.sl) / CAST(t.n - r.i AS DOUBLE) * 1e6) / 1e6
        |    AS mean_right,
        |  FLOOR(ABS(t.n * r.sl - r.i * t.s)
        |    / sqrt(CAST(t.n AS DOUBLE) * r.i * (t.n - r.i)) * 1e6) / 1e6
        |    AS cusum_stat
        |FROM r CROSS JOIN tot t
        |WHERE r.i < t.n
        |ORDER BY cusum_stat DESC, split_t LIMIT 1""".stripMargin),

    // [EXT] Seasonal-naïve backtest (MASE): does the weekly cycle in
    // per-type daily volume beat the naïve forecast? Lag alignment by
    // self-equi-join, decimal-exact error sums.
    QueryDef("q_seasonal_mase", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"),
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.seasonalNaiveBacktest(
        daily, Seq("event_type"), "t", "cnt", period = 7)
    },
      // Seasonal-naïve backtest mirrored: decimal-exact absolute-error
      // sums; each mean and the MASE ratio are IEEE divisions of exact
      // values, FLOOR-quantized. FULL JOIN USING coalesces the key the
      // same way Spark's full_outer Seq-join does.
      """WITH d AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |        SUM(ABS(a.x - b.x)) AS se
        |      FROM d a JOIN d b
        |        ON b.event_type = a.event_type AND b.t = a.t - 7
        |      GROUP BY 1),
        |nv AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_naive,
        |         SUM(ABS(a.x - b.x)) AS ne
        |       FROM d a JOIN d b
        |         ON b.event_type = a.event_type AND b.t = a.t - 1
        |       GROUP BY 1)
        |SELECT event_type,
        |  COALESCE(n_pairs, 0) AS n_pairs,
        |  CASE WHEN n_pairs > 0 THEN
        |    FLOOR(CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE) * 1e6) / 1e6
        |  END AS mae,
        |  COALESCE(n_naive, 0) AS n_naive,
        |  CASE WHEN n_naive > 0 THEN
        |    FLOOR(CAST(ne AS DOUBLE) / CAST(n_naive AS DOUBLE) * 1e6) / 1e6
        |  END AS naive_mae,
        |  CASE WHEN n_pairs > 0 AND n_naive > 0 AND ne > 0 THEN
        |    FLOOR((CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE))
        |      / (CAST(ne AS DOUBLE) / CAST(n_naive AS DOUBLE)) * 1e6) / 1e6
        |  END AS mase
        |FROM s FULL JOIN nv USING (event_type)""".stripMargin),

    // [EXT] Classical additive decomposition of daily value per type:
    // centered 7-day MA trend, re-centered day-of-week seasonal
    // indices, residual — all floor-quantized, decimal-exact sums.
    QueryDef("q_seasonal_decomp", (s, dir) =>
      graft.ext.TimeSeries.seasonalDecompose(
        Tables.events(s, dir), "event_type", "ts", "value"),
      // Decomposition mirrored: DECIMAL(18,4) daily sums, centered 7-row
      // MA over the daily frame, statsmodels-style re-centered dow
      // indices, every division floor-quantized. DuckDB dayofweek is
      // Sunday=0, Spark's is Sunday=1 -> +1.
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, d, v,
        |    CASE WHEN COUNT(*) OVER w7 = 7
        |      THEN FLOOR(CAST(SUM(v) OVER w7 AS DOUBLE) / 7 * 1e6) / 1e6
        |    END AS trend
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (
        |  SELECT *, CAST(dayofweek(d) + 1 AS INT) AS dow,
        |    CASE WHEN trend IS NOT NULL
        |      THEN FLOOR((CAST(v AS DOUBLE) - trend) * 1e6) / 1e6
        |    END AS detr
        |  FROM t),
        |seas AS (
        |  SELECT event_type, dow,
        |    FLOOR(CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) * 1e6) / 1e6 AS s_raw
        |  FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, dow,
        |    FLOOR((s_raw
        |      - FLOOR(CAST(SUM(CAST(s_raw AS DECIMAL(18,6))) OVER wk AS DOUBLE)
        |          / COUNT(*) OVER wk * 1e6) / 1e6) * 1e6) / 1e6 AS seasonal
        |  FROM seas
        |  WINDOW wk AS (PARTITION BY event_type))
        |SELECT dt.event_type, dt.d, dt.dow, CAST(dt.v AS DOUBLE) AS value,
        |  dt.trend, sc.seasonal,
        |  CASE WHEN dt.detr IS NOT NULL
        |    THEN FLOOR((dt.detr - sc.seasonal) * 1e6) / 1e6
        |  END AS resid
        |FROM dt LEFT JOIN sc
        |  ON dt.event_type = sc.event_type AND dt.dow = sc.dow""".stripMargin),

    // [EXT] Lead-lag cross-correlation: daily click volume vs daily
    // purchase volume at lags −7..7 — lag-key self-join alignment,
    // full-series decimal moments, floor-quantized coefficients.
    QueryDef("q_ccf", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      def daily(t: String) = ev.filter(col("event_type") === t)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.crossCorrelation(
        daily("click"), daily("purchase"), "t", "cnt", maxLag = 7)
    },
      // Cross-correlation mirrored: the q_acf conventions (decimal-exact
      // moments via DECIMAL(19,6) hugeint products, identical
      // mean-cleared double chain, FLOOR quantization), one CTE per
      // series.
      """WITH dx AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1),
        |dy AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |mx AS (SELECT CAST(COUNT(*) AS BIGINT) AS nx,
        |         CAST(SUM(v) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
        |           AS DOUBLE) AS sxx
        |       FROM dx),
        |my AS (SELECT CAST(COUNT(*) AS BIGINT) AS ny,
        |         CAST(SUM(v) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
        |           AS DOUBLE) AS syy
        |       FROM dy),
        |lags AS (SELECT i - 7 AS lag FROM range(15) r(i)),
        |p AS (SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |        CAST(SUM(CAST(a.v AS DECIMAL(19,6)) * CAST(b.v AS DECIMAL(19,6)))
        |          AS DOUBLE) AS c,
        |        CAST(SUM(a.v) AS DOUBLE) AS sa,
        |        CAST(SUM(b.v) AS DOUBLE) AS sb
        |      FROM lags l CROSS JOIN dx a JOIN dy b ON b.t = a.t - l.lag
        |      GROUP BY 1)
        |SELECT l.lag, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  CASE WHEN p.n_pairs > 0
        |    AND mx.sxx - mx.sx * mx.sx / CAST(mx.nx AS DOUBLE) > 0
        |    AND my.syy - my.sy * my.sy / CAST(my.ny AS DOUBLE) > 0 THEN
        |    FLOOR((p.c - my.sy / CAST(my.ny AS DOUBLE) * p.sa
        |        - mx.sx / CAST(mx.nx AS DOUBLE) * p.sb
        |        + CAST(p.n_pairs AS DOUBLE) * (mx.sx / CAST(mx.nx AS DOUBLE))
        |          * (my.sy / CAST(my.ny AS DOUBLE)))
        |      / sqrt((mx.sxx - mx.sx * mx.sx / CAST(mx.nx AS DOUBLE))
        |        * (my.syy - my.sy * my.sy / CAST(my.ny AS DOUBLE))) * 1e6)
        |      / 1e6
        |  END AS ccf
        |FROM lags l LEFT JOIN p ON p.lag = l.lag
        |CROSS JOIN mx CROSS JOIN my""".stripMargin),
  )
}
