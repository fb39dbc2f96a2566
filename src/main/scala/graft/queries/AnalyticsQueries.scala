package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.{Tables, ext}

/** [EXT] Event and basket analytics through `graft.ext.Analytics` and
  * `Graph`: sessions, windows, top-k, quantiles, outliers, skew,
  * concentration, co-purchase and association rules, PageRank and triangle
  * counts.
  */
object AnalyticsQueries {

  /** PageRank iterations of q_pagerank and of its unrolled oracle. */
  private val PageRankIters = 3

  /** DuckDB oracle for q_pagerank: the SAME fixed iterations unrolled
    * as CTEs — mirrored double shapes, decimal contribution sums.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH co AS (
        |  SELECT x.i AS item_a, y.i AS item_b
        |  FROM (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem) x
        |  JOIN (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem) y USING (b)
        |  WHERE x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (
        |  SELECT item_a AS src, item_b AS dst FROM co
        |  UNION ALL SELECT item_b, item_a FROM co),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |pr0 AS (
        |  SELECT node,
        |    CAST(FLOOR(1.0 / cnt.n * 1000000000000.0) AS DOUBLE)
        |      / 1000000000000.0 AS pr
        |  FROM nodes CROSS JOIN cnt)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node,
         |    SUM(CAST(FLOOR(p.pr / o.outdeg * 1000000000000.0) AS BIGINT)) AS s
         |  FROM edges e
         |  JOIN pr${k - 1} p ON e.src = p.node
         |  JOIN outd o ON e.src = o.src
         |  GROUP BY 1),
         |pr$k AS (
         |  SELECT n.node,
         |    CAST(FLOOR(((1e0 - 0.85) / cnt.n
         |        + 0.85 * (CAST(COALESCE(c.s, 0) AS DOUBLE) / 1000000000000.0))
         |      * 1000000000000.0) AS DOUBLE) / 1000000000000.0 AS pr
         |  FROM nodes n LEFT JOIN c$k c USING (node) CROSS JOIN cnt)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, pr FROM pr$iters"
  }

  val defs: Seq[QueryDef] = Seq(

    // Batch gaps-and-islands sessionization (30 min gap).
    QueryDef("q_sessionize", (s, dir) =>
      ext.Analytics.sessionizeBatch(Tables.events(s, dir)),
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM o)
        |SELECT user_id, session_id, MIN(ts) AS session_start,
        |  MAX(ts) AS session_end, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    // Dimension enrichment via broadcast joins.
    QueryDef("q_join_enrich", (s, dir) =>
      ext.Analytics.enrich(
        Tables.events(s, dir), Tables.customer(s, dir),
        s.read.parquet(dir + "/nation.parquet")),
      """SELECT e.event_id, e.event_type, e.value, c.c_name, c.c_mktsegment, n.n_name
        |FROM events e
        |LEFT JOIN customer c ON e.user_id = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin),

    // Sliding windows (1 h / 15 min) in batch.
    QueryDef("q_window_sliding", (s, dir) =>
      ext.Analytics.slidingWindowAgg(Tables.events(s, dir)),
      """WITH k AS (SELECT UNNEST([0, 1, 2, 3]) AS kk),
        |w AS (
        |  SELECT e.event_type, e.value,
        |    make_timestamp(((epoch_us(e.ts) // 900000000) - k.kk) * 900000000)
        |      AS window_start
        |  FROM events e CROSS JOIN k)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2, 3""".stripMargin),

    // Fact-fact join + monthly revenue rollup.
    QueryDef("q_revenue_monthly", (s, dir) =>
      ext.Analytics.revenueMonthly(
        Tables.lineitem(s, dir), Tables.orders(s, dir)),
      """SELECT date_trunc('month', o.o_orderdate) AS order_month,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
        |    * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o.o_orderkey) AS n_orders
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // Top-10 users by total value (TakeOrderedAndProject, no global sort).
    QueryDef("q_topk_users", (s, dir) =>
      ext.Analytics.topKByValue(Tables.events(s, dir), 10),
      """SELECT user_id, ROUND(SUM(value), 4) AS total_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id ASC LIMIT 10""".stripMargin),

    // Per-group quantiles — the FLAGSHIP path is the bounded-memory
    // histogram estimator (per-group state = bins, independent of
    // group size); the exact valueQuantiles (percentile(), buffers the
    // group multiset — bounded-group contract only) stays library API.
    QueryDef("q_quantiles", (s, dir) =>
      ext.Analytics.histogramQuantilesByGroup(
        Tables.events(s, dir), Seq("event_type"), "value", width = 32.0),
      // Grouped histogram-quantile mirror of q_quantile_hist: per-group
      // prefix sum over the bounded bin table; rank and interpolation
      // are double ops on exact integer counts, FLOOR-quantized.
      """WITH b AS (
        |  SELECT event_type, CAST(FLOOR(value / 32.0) AS BIGINT) AS bin,
        |    COUNT(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM b),
        |t AS (SELECT event_type, SUM(cnt) AS n FROM b GROUP BY 1),
        |q AS (SELECT label, CAST(p AS DOUBLE) AS p
        |      FROM (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99))
        |        AS v(label, p))
        |SELECT c.event_type, q.label, c.bin,
        |  FLOOR((CAST(c.bin AS DOUBLE) * 32.0 + 32.0 *
        |    ((q.p * (t.n - 1) - (c.cum - c.cnt)) / c.cnt)) * 1e6) / 1e6
        |    AS est
        |FROM c JOIN t USING (event_type) CROSS JOIN q
        |WHERE (c.cum - c.cnt) <= q.p * (t.n - 1)
        |  AND q.p * (t.n - 1) < c.cum""".stripMargin),

    // [EXT] The oracle-able sketch path of q_quantiles: fixed-width
    // histogram bins (bounded memory at any row count), distributed
    // prefix-sum CDF, in-bin uniform interpolation on exact integers.
    QueryDef("q_quantile_hist", (s, dir) =>
      ext.Analytics.histogramQuantiles(
        Tables.events(s, dir), "value", width = 32.0),
      // Histogram-quantile mirror: window prefix sum stands in for
      // plans/Prefix; rank and interpolation are double ops on exact
      // integer counts, FLOOR-quantized. p cast to DOUBLE (the VALUES
      // literal is DECIMAL) so r = p*(n-1) is the identical IEEE product.
      """WITH b AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM b),
        |t AS (SELECT SUM(cnt) AS n FROM b),
        |q AS (SELECT label, CAST(p AS DOUBLE) AS p
        |      FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))
        |        AS v(label, p))
        |SELECT q.label, c.bin,
        |  FLOOR((CAST(c.bin AS DOUBLE) * 32.0 + 32.0 *
        |    ((q.p * (t.n - 1) - (c.cum - c.cnt)) / c.cnt)) * 1e6) / 1e6
        |    AS est
        |FROM c CROSS JOIN t CROSS JOIN q
        |WHERE (c.cum - c.cnt) <= q.p * (t.n - 1)
        |  AND q.p * (t.n - 1) < c.cum""".stripMargin),

    // [EXT] Mix shift: event-type composition of the second half of
    // the time range vs the first — exact micro shares. The midpoint
    // is EXACT integer floor-division on both sides ((min+max) div 2
    // here, // in the oracle): the former double-average-then-cast
    // truncated while DuckDB's CAST rounds-to-nearest, so an odd
    // min+max put a boundary event in different halves per engine.
    QueryDef("q_mix_shift", (s, dir) => {
      val ev = Tables.events(s, dir)
      val us = unix_micros(col("ts"))
      val mid = ev.agg(min(us).as("__mn"), max(us).as("__mx"))
        .select(expr("(__mn + __mx) div 2").as("__mid"))
      graft.ext.Analytics.mixShift(
        ev.crossJoin(broadcast(mid)).filter(us < col("__mid")),
        ev.crossJoin(broadcast(mid)).filter(us >= col("__mid")),
        "event_type")
    },
      """WITH m AS (
        |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
        |    AS mid FROM events),
        |p AS (
        |  SELECT event_type, COUNT(*) AS n_prev
        |  FROM events CROSS JOIN m
        |  WHERE epoch_us(ts) < mid AND event_type IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT event_type, COUNT(*) AS n_cur
        |  FROM events CROSS JOIN m
        |  WHERE epoch_us(ts) >= mid AND event_type IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(p.event_type, c.event_type) AS event_type,
        |    COALESCE(n_prev, 0) AS n_prev, COALESCE(n_cur, 0) AS n_cur
        |  FROM p FULL JOIN c ON p.event_type = c.event_type),
        |t AS (SELECT SUM(n_prev) AS tp, SUM(n_cur) AS tc FROM j)
        |SELECT event_type, CAST(n_prev AS BIGINT) AS n_prev,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(n_cur - n_prev AS BIGINT) AS delta,
        |  CAST((n_prev * 1000000) // tp AS BIGINT) AS share_prev_micro,
        |  CAST((n_cur * 1000000) // tc AS BIGINT) AS share_cur_micro,
        |  CAST((n_cur * 1000000) // tc - (n_prev * 1000000) // tp
        |    AS BIGINT) AS share_shift_micro
        |FROM j CROSS JOIN t""".stripMargin),

    // [EXT] Exact join-output cardinality WITHOUT running the join
    // (events × orders on the customer key — the M×N blowup case a
    // planner wants quantified before committing to a plan).
    QueryDef("q_join_cardinality", (s, dir) =>
      graft.ext.Analytics.joinCardinality(
        Tables.events(s, dir), "user_id",
        Tables.orders(s, dir), "o_custkey"),
      """WITH ca AS (
        |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |cb AS (
        |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |p AS (
        |  SELECT ca.k, ca.ca * cb.cb AS prod
        |  FROM ca JOIN cb USING (k))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
        |  CAST(SUM(prod) AS BIGINT) AS join_rows,
        |  (SELECT CAST(prod AS BIGINT) FROM p
        |   ORDER BY prod DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |    AS max_key_rows,
        |  (SELECT CAST(k AS VARCHAR) FROM p
        |   ORDER BY prod DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |    AS max_key
        |FROM p""".stripMargin),

    // [EXT] Analytics: clickstream transition matrix — one lead()
    // shuffle on the user key, then a partial-aggregatable pair count.
    QueryDef("q_event_transitions", (s, dir) =>
      graft.ext.Analytics.eventTransitions(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id"),
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS cnt
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // [EXT] Analytics: per-type z-score outliers; moments are
    // decimal-exact sums so z is bit-identical cross-engine, and the
    // moment table broadcast-joins back (no hot-group window).
    QueryDef("q_zscore_outliers", (s, dir) =>
      graft.ext.Analytics.zscoreOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", threshold = 2.5),
      """WITH m AS (
        |  SELECT event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |z AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    ROUND((e.value - m.s1 / m.n)
        |      / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 6) AS z
        |  FROM events e JOIN m USING (event_type))
        |SELECT * FROM z WHERE ABS(z) > 2.5""".stripMargin),

    // [EXT] Analytics: robust (median/MAD) outliers — heavy-tail-safe
    // sibling of q_zscore_outliers; decide-on-rounded robust-z.
    QueryDef("q_mad_outliers", (s, dir) =>
      graft.ext.Analytics.madOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", threshold = 3.0),
      """WITH med AS (
        |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS group_median
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    ROUND(quantile_cont(ABS(e.value - m.group_median), 0.5), 6) AS group_mad
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT e.event_id, e.event_type, e.value, m.group_median, d.group_mad,
        |    CASE WHEN d.group_mad > 0
        |      THEN ROUND(ABS(e.value - m.group_median) / (1.4826 * d.group_mad), 6)
        |    END AS robust_z
        |  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type))
        |SELECT * FROM s
        |WHERE (group_mad > 0 AND robust_z > 3.0)
        |   OR (group_mad <= 0 AND value <> group_median)""".stripMargin),

    // [EXT] Analytics: join-key skew diagnostics — the pre-join
    // "should I salt?" report over lineitem's three join keys.
    QueryDef("q_skew_profile", (s, dir) =>
      graft.ext.Analytics.keySkewProfile(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      s"""SELECT '$k' AS key_col, CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS max_cnt,
         |  ROUND(quantile_cont(c, 0.99), 6) AS p99_cnt,
         |  ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS avg_cnt,
         |  ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6) AS skew_ratio,
         |  (SELECT CAST(k AS VARCHAR) FROM (SELECT $k AS k, COUNT(*) AS c
         |     FROM lineitem GROUP BY 1) ORDER BY c DESC, CAST(k AS VARCHAR) DESC
         |   LIMIT 1) AS top_key
         |FROM (SELECT $k AS k, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM lineitem GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")),

    // [EXT] Analytics: quantile normalization — error-event values
    // mapped onto the click-value distribution by rank (feature
    // alignment; reference grid inlined like the IVF centroids).
    QueryDef("q_quantile_norm", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Analytics.quantileNormalize(
        ev.filter(col("event_type") === "error")
          .select("event_id", "value"),
        "value",
        ev.filter(col("event_type") === "click"), "value",
        gridSteps = 20)
    },
      {
        val probs = (0 to 20).map(i => (i.toDouble / 20).toString).mkString(", ")
        s"""WITH ref AS (
           |  SELECT [CAST(ROUND(q, 4) AS DECIMAL(14,4)) FOR q IN
           |    quantile_cont(value, [$probs])] AS qs
           |  FROM events WHERE event_type = 'click' AND value IS NOT NULL),
           |t AS (SELECT event_id, value FROM events
           |      WHERE event_type = 'error' AND value IS NOT NULL),
           |p AS (SELECT event_id, value,
           |        CAST(ROUND(PERCENT_RANK() OVER (ORDER BY value), 6)
           |          AS DECIMAL(18,6)) AS pr
           |      FROM t),
           |i AS (
           |  SELECT event_id, value, pr, qs,
           |    pr * 20 AS idx,
           |    CAST(FLOOR(pr * 20) AS INTEGER) AS lo,
           |    LEAST(CAST(FLOOR(pr * 20) AS INTEGER) + 1, 20) AS hi
           |  FROM p CROSS JOIN ref)
           |SELECT event_id, value, CAST(pr AS DOUBLE) AS pr,
           |  CAST(ROUND(qs[lo + 1] +
           |    CAST(idx - FLOOR(idx) AS DECIMAL(18,6))
           |      * (qs[hi + 1] - qs[lo + 1]), 6) AS DOUBLE) AS normalized
           |FROM i""".stripMargin
      }),

    // [EXT] Analytics: top-k categories + "(other)" rollup — the tail
    // stays visible instead of silently dropping (reporting honesty).
    QueryDef("q_topk_other", (s, dir) =>
      graft.ext.Analytics.topKWithOther(
        Tables.documents(s, dir), "source", k = 5),
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS category,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_rows DESC,
        |        category ASC) AS rk FROM c)
        |SELECT CASE WHEN rk <= 5 THEN category ELSE '(other)' END AS category,
        |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |  rk > 5 AS is_other
        |FROM r GROUP BY 1, 3""".stripMargin),

    // [EXT] Analytics: Gini concentration of per-customer revenue
    // (corpus/source-balance metric; distributed ordinal ranks).
    QueryDef("q_gini", (s, dir) => {
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double").as("rev"))
      graft.ext.Analytics.gini(perCust, "rev", "o_custkey")
    },
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS DECIMAL(18,4)) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC, o_custkey ASC)
        |        AS i FROM pc),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s,
        |        SUM(CAST(i AS DECIMAL(20,0)) * v) AS ws
        |      FROM r)
        |SELECT n, CAST(s AS DOUBLE) AS total,
        |  ROUND(2.0 * CAST(ws AS DOUBLE) / (n * CAST(s AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM m""".stripMargin),

    // [EXT] Per-group top-k via WindowGroupLimit (map-side k-prune):
    // top-3 parts per supplier by decimal-exact revenue.
    QueryDef("q_topk_per_group", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)"))).as("__rev"))
      graft.ext.Analytics.topKPerGroup(
        rev, Seq("l_suppkey"), "__rev", Seq("l_partkey"), k = 3)
        .select(col("l_suppkey"), col("l_partkey"),
          col("__rev").cast("double").as("revenue"), col("rank"))
    },
      """WITH r AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |k AS (SELECT l_suppkey, l_partkey, rev,
        |        ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |          ORDER BY rev DESC, l_partkey ASC) AS rank
        |      FROM r)
        |SELECT l_suppkey, l_partkey, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rank AS BIGINT) AS rank
        |FROM k WHERE rank <= 3""".stripMargin),

    // [EXT] Analytics: per-type winsorization (outlier clipping to the
    // [p05, p95] band; exact percentiles, broadcast bounds).
    QueryDef("q_winsorize", (s, dir) =>
      graft.ext.Analytics.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95),
      """WITH b AS (
        |  SELECT event_type,
        |    ROUND(quantile_cont(value, 0.05), 6) AS lo,
        |    ROUND(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  LEAST(GREATEST(e.value, b.lo), b.hi) AS value_clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin),

    // [EXT] Analytics: market-basket co-occurrence — co-partitioned
    // self-join on the basket key, normalized pairs, support filter.
    QueryDef("q_copurchase", (s, dir) =>
      graft.ext.Analytics.coOccurrencePairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L),
      """WITH a AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)
        |SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS n_baskets
        |FROM a x JOIN a y USING (b)
        |WHERE x.i < y.i
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin),

    // [EXT] Market-basket association rules over the co-occurrence
    // pairs: support/confidence/lift from exact integer counts,
    // item-count broadcasts back onto the thresholded rule stream.
    QueryDef("q_assoc_rules", (s, dir) =>
      graft.ext.Analytics.associationRules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
        minPairCount = 3L),
      // Association rules mirrored: all three ratios are single IEEE
      // divisions of exact integer counts, FLOOR-quantized.
      """WITH a AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |p AS (SELECT x.i AS item_a, y.i AS item_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_pair
        |      FROM a x JOIN a y USING (b)
        |      WHERE x.i < y.i GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |r AS (SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM p
        |      UNION ALL
        |      SELECT item_b, item_a, n_pair FROM p),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item FROM a GROUP BY 1),
        |t AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM a)
        |SELECT r.antecedent, r.consequent, r.n_pair,
        |  ia.n_item AS n_ante, ci.n_item AS n_cons,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) / CAST(t.nb AS DOUBLE) * 1e6) / 1e6
        |    AS support,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) * 1e6)
        |    / 1e6 AS confidence,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) * CAST(t.nb AS DOUBLE)
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ci.n_item AS DOUBLE)) * 1e6)
        |    / 1e6 AS lift
        |FROM r
        |JOIN ic ia ON ia.i = r.antecedent
        |JOIN ic ci ON ci.i = r.consequent
        |CROSS JOIN t""".stripMargin),

    // [EXT] Audience-overlap matrix: distinct-user Jaccard/overlap for
    // every event-type pair — entity-keyed self-join, zero-overlap
    // grid re-introduced from the broadcast sizes table.
    QueryDef("q_audience_overlap", (s, dir) =>
      graft.ext.Analytics.audienceOverlap(
        Tables.events(s, dir), "event_type", "user_id"),
      // Audience overlap mirrored: exact integer counts, single IEEE
      // divisions, FLOOR-quantized; the grid cross join reports
      // zero-overlap pairs.
      """WITH su AS (
        |  SELECT DISTINCT event_type AS s, user_id AS e FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM su GROUP BY 1),
        |bo AS (SELECT a.s AS seg_a, b.s AS seg_b,
        |         CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM su a JOIN su b ON a.e = b.e AND a.s < b.s
        |       GROUP BY 1, 2)
        |SELECT ga.s AS seg_a, gb.s AS seg_b, ga.n AS n_a, gb.n AS n_b,
        |  COALESCE(bo.nb, 0) AS n_both,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(ga.n + gb.n - COALESCE(bo.nb, 0) AS DOUBLE) * 1e6) / 1e6
        |    AS jaccard,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(LEAST(ga.n, gb.n) AS DOUBLE) * 1e6) / 1e6 AS overlap
        |FROM sz ga CROSS JOIN sz gb
        |LEFT JOIN bo ON bo.seg_a = ga.s AND bo.seg_b = gb.s
        |WHERE ga.s < gb.s""".stripMargin),

    // [EXT] Corpus-overlap matrix BY SOURCE: distinct-shingle Jaccard
    // between every source pair — "how much do these two crawls share?"
    // The same entity-keyed overlap plan with shingles as the entity.
    QueryDef("q_source_overlap", (s, dir) =>
      graft.ext.Analytics.audienceOverlap(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"),
            explode(Dedup.shingles(col("text"), 3)).as("__sh")),
        "source", "__sh"),
      // Same overlap grid with word-3-gram shingles as the entity — the
      // q_dup_share shingle chain feeding the q_audience_overlap shape.
      """WITH toks AS (
        |  SELECT source, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT source, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
        |  FROM toks),
        |su AS (
        |  SELECT DISTINCT source AS s, unnest(shingles) AS e FROM t
        |  WHERE source IS NOT NULL),
        |sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM su GROUP BY 1),
        |bo AS (SELECT a.s AS seg_a, b.s AS seg_b,
        |         CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM su a JOIN su b ON a.e = b.e AND a.s < b.s
        |       GROUP BY 1, 2)
        |SELECT ga.s AS seg_a, gb.s AS seg_b, ga.n AS n_a, gb.n AS n_b,
        |  COALESCE(bo.nb, 0) AS n_both,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(ga.n + gb.n - COALESCE(bo.nb, 0) AS DOUBLE) * 1e6) / 1e6
        |    AS jaccard,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(LEAST(ga.n, gb.n) AS DOUBLE) * 1e6) / 1e6 AS overlap
        |FROM sz ga CROSS JOIN sz gb
        |LEFT JOIN bo ON bo.seg_a = ga.s AND bo.seg_b = gb.s
        |WHERE ga.s < gb.s""".stripMargin),

    // [EXT] Inter-arrival profile: per-type percentiles of the gap
    // between a user's consecutive events of the same type — per-user
    // windows, never global. Gaps quantize to exact integer SECONDS
    // (micros-magnitude integers push the two engines' percentile
    // interpolation formulas apart beyond 6 dp; second-magnitude
    // integers keep them bit-identical — observed, not theoretical).
    QueryDef("q_interarrival", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap_us").isNotNull)
        // Exact for any plausible gap: the true quotient is ≥ 1e-6 from
        // the next integer while the double ulp here is ~1e-10.
        .withColumn("gap_s",
          floor(col("gap_us").cast("double") / lit(1e6)).cast("long"))
      ext.Analytics.valueQuantiles(gaps, Seq("event_type"), "gap_s")
    },
      // Inter-arrival mirrored: epoch_us = unix_micros (exact BIGINT);
      // the same per-(user,type) window; gaps floor to integer seconds
      // (micros magnitude diverges the engines' percentile interpolation
      // beyond 6 dp); quantile_cont then matches Spark's percentile (the
      // q_quantiles convention).
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(FLOOR(CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS DOUBLE) / 1e6) AS BIGINT) AS gap_s
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type,
        |  ROUND(quantile_cont(gap_s, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(gap_s, 0.95), 6) AS p95,
        |  ROUND(quantile_cont(gap_s, 0.99), 6) AS p99
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1""".stripMargin),

    // [EXT] Per-type quality trend: least-squares slope of value over
    // event time from decimal-exact regression moments.
    QueryDef("q_trend_slope", (s, dir) =>
      graft.ext.Analytics.linearTrend(
        Tables.events(s, dir), Seq("event_type"), "ts", "value",
        refEpochUs = 1704067200000000L), // 2024-01-01 00:00:00 UTC
      // DECIMAL(19,*) casts: force DuckDB's hugeint multiply (see
      // q_corr_matrix). epoch_us matches Spark's unix_micros exactly
      // (BIGINT microseconds; date_part('epoch') is a fractional DOUBLE).
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) - 1704067200000000 AS DECIMAL(19,0)) AS x,
        |    CAST(value AS DECIMAL(19,6)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400000000.0, 6)
        |  END AS slope_per_day,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |  END AS intercept
        |FROM m""".stripMargin),

    // [EXT] Distributed global PERCENT_RANK (quality-percentile
    // normalization) — no single-partition window; prefix-sum over
    // distinct values.
    QueryDef("q_quality_pct", (s, dir) =>
      graft.ext.Analytics.percentRank(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "pct_rank"),
      """SELECT doc_id, n_chars,
        |  ROUND(PERCENT_RANK() OVER (ORDER BY n_chars), 6) AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL""".stripMargin),

    // Event-time tumbling window aggregation (1 hour).
    QueryDef("q_window_hourly", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value")),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // [EXT] Graph: degree-oriented triangle count on the co-purchase
    // graph (compact-forward; wedge fan-out O(m^1.5), no nested loop).
    QueryDef("q_triangles", (s, dir) =>
      graft.ext.Graph.triangleCount(
        graft.ext.Analytics.coOccurrencePairs(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L),
        "item_a", "item_b"),
      """WITH a AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |           FROM lineitem),
        |e AS (SELECT x.i AS u, y.i AS v
        |      FROM a x JOIN a y ON x.b = y.b AND x.i < y.i
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin),

    // [EXT] Graph analytics: 3-iteration PageRank over the undirected
    // co-purchase item graph — 12-dp-rounded contributions summed as
    // decimals, so the ranking is partition-order-independent.
    QueryDef("q_pagerank", (s, dir) => {
      val pairs = graft.ext.Analytics.coOccurrencePairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L)
      val edges = pairs.select(col("item_a").as("s"), col("item_b").as("d"))
        .union(pairs.select(col("item_b").as("s"), col("item_a").as("d")))
      graft.ext.Graph.pageRank(edges, "s", "d", iters = PageRankIters)
    },
      pageRankOracleSql(PageRankIters)),
  )
}
