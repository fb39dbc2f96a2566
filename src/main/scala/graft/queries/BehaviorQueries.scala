package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Behavior
import Shared.{valueValid, expSqlChain, lnSqlChain}

/** [EXT] User-behaviour analytics through `graft.ext.Behavior`: retention,
  * funnels, survival curves, lift, RFM, paths, A/B tests, CUPED, lifetime
  * value and attribution.
  */
object BehaviorQueries {

  val defs: Seq[QueryDef] = Seq(

    // [EXT] Kaplan–Meier user-lifetime curve: duration = days between
    // first and last activity; censored when the user is still active
    // within 3 days of the corpus horizon.
    QueryDef("q_kaplan_meier", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hz = ev.agg(max(col("ts")).as("__hz"))
      val subjects = ev.groupBy(col("user_id"))
        .agg(
          datediff(max(col("ts")), min(col("ts"))).as("duration"),
          max(col("ts")).as("__last"))
        .crossJoin(broadcast(hz))
        .withColumn("observed", datediff(col("__hz"), col("__last")) > 3)
      Behavior.kaplanMeier(subjects, "duration", "observed")
    },
      // Running product as exact integer prefix sums of floor-quantized
      // lnq factors; survival via the expq chain (PSI discipline applied
      // to a product).
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CAST(CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE) AS BIGINT)
        |      AS duration,
        |    MAX(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hz AS (SELECT MAX(ts) AS h FROM events),
        |subj AS (
        |  SELECT duration,
        |    ((CAST(h AS DATE) - CAST(last_ts AS DATE)) > 3) AS observed
        |  FROM pu CROSS JOIN hz),
        |byt AS (
        |  SELECT duration,
        |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT *, n_events + n_censored AS dc,
        |    SUM(n_events + n_censored) OVER (ORDER BY duration) AS cum_dc,
        |    (SELECT SUM(n_events + n_censored) FROM byt) AS nn
        |  FROM byt),
        |t1 AS (
        |  SELECT duration, n_events, n_censored,
        |    CAST(nn - (cum_dc - dc) AS BIGINT) AS n_risk,
        |    CASE WHEN nn - (cum_dc - dc) = n_events THEN 1 ELSE 0 END
        |      AS zero
        |  FROM r),
        |t2 AS (
        |  SELECT duration, n_events, n_censored, n_risk, zero,
        |    GREATEST(CAST(n_risk - n_events AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE), 1e-300) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  CASE WHEN zero = 1 THEN 0 WHEN n_events = 0 THEN 0
        |    ELSE CAST(FLOOR(__lnx * 1e12) AS BIGINT) END AS tq
        |  FROM t1),
        |t3 AS (
        |  SELECT duration, n_events, n_censored, n_risk,
        |    SUM(tq) OVER (ORDER BY duration) AS cum_tq,
        |    SUM(zero) OVER (ORDER BY duration) AS cum_zero
        |  FROM t2),
        |t4 AS (
        |  SELECT duration, n_events, n_censored, n_risk, cum_zero,
        |    CAST(cum_tq AS DOUBLE) / 1e12 AS __sx,
        |  ${expSqlChain("__sx", "__ex")}
        |  FROM t3)
        |SELECT duration, n_risk, n_events, n_censored,
        |  CASE WHEN cum_zero > 0 THEN 0e0 ELSE __ex END AS survival
        |FROM t4""".stripMargin),

    // [EXT] Welch's unequal-variance t-test on the value metric
    // between the two lowest variants (click vs error).
    QueryDef("q_welch_ttest", (s, dir) =>
      Behavior.welchTTest(
        Tables.events(s, dir)
          .filter(col("event_type").isin("click", "error") && valueValid),
        "event_type", "value"),
      // Same op tree as Behavior.welchTTest over decimal-exact moments.
      """WITH m AS (
        |  SELECT event_type AS variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))
        |      * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events
        |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        |    AND value BETWEEN 0e0 AND 2e2
        |  GROUP BY 1),
        |a AS (SELECT variant AS variant_a, n AS n_a, s1 AS s1a, s2 AS s2a
        |      FROM m ORDER BY variant LIMIT 1),
        |b AS (SELECT variant AS variant_b, n AS n_b, s1 AS s1b, s2 AS s2b
        |      FROM (SELECT * FROM m ORDER BY variant LIMIT 2)
        |      ORDER BY variant DESC LIMIT 1),
        |c AS (
        |  SELECT variant_a, variant_b, n_a, n_b,
        |    ((s2a - s1a * s1a / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - 1e0)) / CAST(n_a AS DOUBLE) AS va,
        |    ((s2b - s1b * s1b / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - 1e0)) / CAST(n_b AS DOUBLE) AS vb,
        |    s1a / CAST(n_a AS DOUBLE) AS ma,
        |    s1b / CAST(n_b AS DOUBLE) AS mb
        |  FROM a CROSS JOIN b)
        |SELECT variant_a, variant_b, n_a, n_b,
        |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |  ROUND((ma - mb) / sqrt(va + vb), 6) AS t_stat,
        |  ROUND((va + vb) * (va + vb)
        |    / (va * va / (CAST(n_a AS DOUBLE) - 1e0)
        |      + vb * vb / (CAST(n_b AS DOUBLE) - 1e0)), 6) AS df_welch
        |FROM c""".stripMargin),

    // [EXT] Behavior: weekly retention cohorts — one shuffle on the
    // user key (window-min cohort assignment, no join back).
    QueryDef("q_retention_cohort", (s, dir) =>
      Behavior.retentionWeekly(Tables.events(s, dir), "user_id", "ts"),
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(datediff('day', f.cohort_week,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Behavior: strictly-ordered funnel (view → click →
    // purchase), sequential-min semantics.
    QueryDef("q_funnel", (s, dir) =>
      Behavior.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      """WITH s0 AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage_ord, 'view' AS stage_name,
        |  (SELECT COUNT(*) FROM s0) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s1)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s2)""".stripMargin),

    // [EXT] Behavior: decile lift table of value as a purchase scorer
    // — NTILE tiling via the distributed ordinal, prefix-sum
    // cumulative gains, exact-integer rates.
    QueryDef("q_lift_table", (s, dir) =>
      Behavior.liftTable(
        Tables.events(s, dir), "value", "event_id",
        col("event_type") === "purchase", buckets = 10),
      // Lift table mirrored: SQL NTILE = Ordinal.withNtile by
      // construction; window prefix sums over the 10-row tile frame;
      // exact-integer rates, FLOOR-quantized.
      """WITH t AS (
        |  SELECT NTILE(10) OVER (ORDER BY value DESC, event_id ASC)
        |      AS bucket,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS n_pos FROM t GROUP BY 1),
        |c AS (SELECT p.*, SUM(n) OVER (ORDER BY bucket) AS cn,
        |        SUM(n_pos) OVER (ORDER BY bucket) AS cp FROM p),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |          CAST(SUM(n_pos) AS BIGINT) AS tp FROM p)
        |SELECT bucket, n, n_pos,
        |  FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e6) / 1e6
        |    AS rate,
        |  CASE WHEN tp > 0 THEN
        |    FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * 1e6) / 1e6
        |  END AS lift,
        |  CASE WHEN tp > 0 THEN
        |    FLOOR(CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)
        |      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * 1e6) / 1e6
        |  END AS cum_lift
        |FROM c CROSS JOIN tot""".stripMargin),

    // [EXT] Behavior: RFM customer-value segmentation — three quintile
    // passes on the distributed global ntile, entity-id tie-breaks.
    QueryDef("q_rfm", (s, dir) =>
      Behavior.rfm(Tables.orders(s, dir), "o_custkey", "o_orderdate",
        "o_totalprice", anchor = "2001-09-01"),
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', CAST(MAX(o_orderdate) AS DATE),
        |      DATE '2001-09-01') AS BIGINT) AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT *,
        |    CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey ASC)
        |      AS BIGINT) AS r_score,
        |    CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
        |      AS BIGINT) AS f_score,
        |    CAST(NTILE(5) OVER (ORDER BY monetary ASC, o_custkey ASC)
        |      AS BIGINT) AS m_score
        |  FROM base)
        |SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |  || CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin),

    // [EXT] Behavior: top first-3-step user journeys (WindowGroupLimit
    // prefix prune, rank-pivot path assembly, bounded path keys).
    QueryDef("q_event_paths", (s, dir) =>
      Behavior.topPaths(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id",
        depth = 3, k = 25),
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS r
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN r = 1 THEN event_type END) AS s1,
        |    MAX(CASE WHEN r = 2 THEN event_type END) AS s2,
        |    MAX(CASE WHEN r = 3 THEN event_type END) AS s3
        |  FROM r WHERE r <= 3 GROUP BY 1)
        |SELECT concat_ws(' > ', s1, s2, s3) AS path,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path ASC LIMIT 25""".stripMargin),

    // [EXT] Behavior: two-proportion conversion z-test over the
    // deterministic 50/50 hash split (experimentation primitive).
    QueryDef("q_ab_ztest", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("variant",
        when(graft.functions.HashExprs
          .md5Prefix60(col("user_id").cast("string")) % 2 === 0, "A")
          .otherwise("B"))
      Behavior.conversionZTest(ev, "user_id", "variant",
        col("event_type") === "purchase" && col("value") > 150)
    },
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events),
        |u AS (SELECT variant, user_id,
        |        MAX(CASE WHEN event_type = 'purchase' AND value > 150
        |          THEN 1 ELSE 0 END) AS conv
        |      FROM e GROUP BY 1, 2),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(conv) AS BIGINT) AS c FROM u GROUP BY 1),
        |a AS (SELECT variant AS variant_a, n AS n_a, c AS conv_a FROM v
        |      ORDER BY variant ASC LIMIT 1),
        |b AS (SELECT variant AS variant_b, n AS n_b, c AS conv_b FROM
        |      (SELECT * FROM v ORDER BY variant ASC LIMIT 2)
        |      ORDER BY variant DESC LIMIT 1)
        |SELECT variant_a, n_a, conv_a, variant_b, n_b, conv_b,
        |  ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
        |FROM a CROSS JOIN b""".stripMargin),

    // [EXT] Behavior: CUPED variance-reduced experiment means over the
    // same hash split — pre-period (Jan 1–15) spend debiases the
    // post-period metric; pooled θ from decimal-exact moments.
    QueryDef("q_cuped", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("variant",
        when(graft.functions.HashExprs
          .md5Prefix60(col("user_id").cast("string")) % 2 === 0, "A")
          .otherwise("B"))
      Behavior.cupedAdjustedMeans(
        ev, "user_id", "variant", "value",
        col("ts") < lit("2024-01-16").cast("timestamp"))
    },
      // CUPED mirrored: per-user pre/post sums re-quantized DECIMAL(18,6)
      // exactly as the Spark side; pooled moments are exact decimal sums;
      // θ and the adjusted means are the identical double chain,
      // FLOOR-quantized.
      """WITH e AS (
        |  SELECT user_id, value, ts,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events),
        |u AS (SELECT variant, user_id,
        |        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |          THEN CAST(COALESCE(value, 0) AS DECIMAL(18,6))
        |          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS x,
        |        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |          THEN CAST(0 AS DECIMAL(18,6))
        |          ELSE CAST(COALESCE(value, 0) AS DECIMAL(18,6)) END)
        |          AS DECIMAL(18,6)) AS y
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |          AS sxx,
        |        SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |          AS sxy FROM u),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |        SUM(x) AS vx, SUM(y) AS vy FROM u GROUP BY 1)
        |SELECT variant, n_users,
        |  FLOOR(CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE) * 1e6) / 1e6
        |    AS mean_post,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |  THEN FLOOR((CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(vx AS DOUBLE) / CAST(n_users AS DOUBLE)
        |        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6) / 1e6
        |  END AS mean_adjusted
        |FROM v CROSS JOIN p""".stripMargin),

    // [EXT] Behavior: cohort LTV — revenue by (acquisition week, age);
    // one user-key shuffle, decimal-exact sums.
    QueryDef("q_cohort_ltv", (s, dir) =>
      Behavior.cohortLtv(
        Tables.events(s, dir), "user_id", "event_type", "ts",
        "value", revenueType = "purchase"),
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(datediff('day', f.cohort_week,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT e.user_id) AS n_buyers
        |FROM events e JOIN f USING (user_id)
        |WHERE e.event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Behavior: daily new-user counts + cumulative audience size
    // (running sum over the calendar-bounded daily frame only).
    QueryDef("q_running_distinct", (s, dir) =>
      Behavior.cumulativeDistinctUsers(
        Tables.events(s, dir), "user_id", "ts"),
      """WITH fs AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |nd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new_users
        |       FROM fs GROUP BY 1)
        |SELECT day, n_new_users,
        |  CAST(SUM(n_new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_cumulative_users
        |FROM nd""".stripMargin),

    // [EXT] Behavior: last-touch attribution — purchases credited to
    // the latest preceding click/view within 7 days, else "direct".
    QueryDef("q_attribution", (s, dir) =>
      Behavior.lastTouchAttribution(
        Tables.events(s, dir), "event_id", "user_id", "event_type",
        "ts", "value", "purchase", Seq("click", "view"), windowDays = 7),
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, ts, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN struct_pack(ts := ts, ch := event_type) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT event_id, user_id, ts AS conv_ts, value AS conv_value,
        |  CASE WHEN touch IS NOT NULL AND touch.ts >= ts - INTERVAL 7 DAY
        |    THEN touch.ch ELSE 'direct' END AS channel,
        |  CASE WHEN touch IS NOT NULL AND touch.ts >= ts - INTERVAL 7 DAY
        |    THEN touch.ts END AS touch_ts
        |FROM t WHERE event_type = 'purchase'""".stripMargin),
  )
}
