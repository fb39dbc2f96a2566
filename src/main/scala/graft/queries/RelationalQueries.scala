package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Aggregate, AsOf, RangeJoin}

/** [EXT] Relational operators of `graft.ops` beyond the reference core:
  * planned, salted, as-of and range joins, merge and SCD2, aggregate-state
  * merges, record linkage and the data-quality audits of
  * `graft.ops.Quality`.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(

    // [EXT] The join planner's decision table for events ⋈ orders:
    // key-statistics aggregates + an exact-integer CASE (thresholds
    // chosen so the verdict is the non-trivial branch here).
    QueryDef("q_join_plan", (s, dir) =>
      graft.ops.JoinPlanner.planReport(
        Tables.events(s, dir), Tables.orders(s, dir), Seq("user_id"),
        broadcastMaxRows = 1000L, skewRatio = 16L),
      """WITH b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS build_rows FROM orders),
        |p0 AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |p AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS probe_rows,
        |    CAST(COUNT(*) AS BIGINT) AS probe_keys,
        |    CAST(MAX(c) AS BIGINT) AS probe_max_key_rows
        |  FROM p0)
        |SELECT build_rows, probe_rows, probe_keys, probe_max_key_rows,
        |  CASE WHEN build_rows <= 1000 THEN 'broadcast'
        |       WHEN probe_max_key_rows * probe_keys >= 16 * probe_rows
        |         THEN 'salted'
        |       ELSE 'shuffle' END AS strategy
        |FROM b CROSS JOIN p""".stripMargin),

    // Skew-salted fact join: identical result multiset to the plain
    // equi-join (the oracle IS the plain join), but each hot orderkey
    // spreads over 8 reduce tasks.
    QueryDef("q_join_salted", (s, dir) =>
      graft.ops.SkewJoin.saltedJoin(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber")),
        Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        Seq("l_orderkey"), salts = 8),
      """SELECT l.l_orderkey, l.l_extendedprice, l.l_linenumber,
        |  o.o_orderpriority
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin),

    // As-of join: each event gets the latest even-hour rate (hourly avg
    // per event_type) at or before its timestamp; DuckDB ASOF LEFT JOIN
    // is the oracle. Odd-hour events exercise the look-back; events
    // before the first even-hour rate stay null (LEFT semantics).
    QueryDef("q_asof_rate", (s, dir) => {
      val ev = Tables.events(s, dir)
      // Decimal-exact sum then one double division: a raw avg() sums in
      // partition order and can cross the 6dp rounding boundary vs
      // DuckDB's sequential sum (observed at sf0.1) — the same
      // associativity fix as q_revenue_monthly.
      val rates = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(
          sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(col("value")), 6).as("rate"))
        .filter(hour(col("hr")) % 2 === 0)
      AsOf.asOfJoin(
        ev.select("event_id", "event_type", "ts", "value"), rates,
        Seq("event_type"), "ts", "hr")
    },
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / COUNT(value), 6) AS rate
        |  FROM events GROUP BY 1, 2),
        |r2 AS (SELECT * FROM r WHERE EXTRACT(hour FROM hr) % 2 = 0)
        |SELECT e.event_type, e.ts, e.event_id, e.value, r2.rate
        |FROM events e ASOF LEFT JOIN r2
        |  ON e.event_type = r2.event_type AND e.ts >= r2.hr""".stripMargin),

    // Same as-of semantics via the epoch-bucketed scale path (1 h
    // epochs): window partitions are (key, epoch), not a key's whole
    // history. Shares q_asof_rate's ASOF oracle — the oracle gate
    // proves the two implementations equivalent.
    QueryDef("q_asof_bucketed", (s, dir) => {
      val ev = Tables.events(s, dir)
      val rates = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(
          sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(col("value")), 6).as("rate"))
        .filter(hour(col("hr")) % 2 === 0)
      AsOf.asOfJoinEpochBucketed(
        ev.select("event_id", "event_type", "ts", "value"), rates,
        Seq("event_type"), "ts", "hr", epochSeconds = 3600L)
    },
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / COUNT(value), 6) AS rate
        |  FROM events GROUP BY 1, 2),
        |r2 AS (SELECT * FROM r WHERE EXTRACT(hour FROM hr) % 2 = 0)
        |SELECT e.event_type, e.ts, e.event_id, e.value, r2.rate
        |FROM events e ASOF LEFT JOIN r2
        |  ON e.event_type = r2.event_type AND e.ts >= r2.hr""".stripMargin),

    // [EXT] Interval join via time binning: lineitems shipped inside
    // each order's first 24 h, as a hash equi-join on day bins — the
    // scale path where a raw range predicate would plan a broadcast
    // nested loop.
    QueryDef("q_range_join", (s, dir) => {
      val orders = Tables.orders(s, dir)
        .withColumn("o_end", col("o_orderdate") + expr("INTERVAL 1 DAY"))
      RangeJoin.intervalPointCount(
        Tables.lineitem(s, dir), "l_shipdate",
        orders, "o_orderkey", "o_orderdate", "o_end",
        binSeconds = 86400L)
    },
      """SELECT o.o_orderkey, COUNT(l.l_orderkey) AS cnt
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
        |GROUP BY 1""".stripMargin),

    // [EXT] Interval×interval overlap self-join (binned equi-join,
    // first-live-bin reporting — no BNLJ, no pair-dedup shuffle):
    // which of a customer's 7-day order windows collide?
    QueryDef("q_interval_overlap", (s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("w_end"))
      RangeJoin.intervalOverlapPairs(
        o, "o_custkey", "o_orderkey", "w_start", "w_end",
        binSeconds = 7L * 86400L)
    },
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate AS ws,
        |    o_orderdate + INTERVAL 7 DAY AS we
        |  FROM orders)
        |SELECT a.o_custkey, a.o_orderkey AS id_a, b.o_orderkey AS id_b,
        |  greatest(a.ws, b.ws) AS overlap_start,
        |  least(a.we, b.we) AS overlap_end
        |FROM w a JOIN w b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |  AND a.ws < b.we AND b.ws < a.we""".stripMargin),

    // [EXT] Lakehouse MERGE semantics: update/insert/delete arms from
    // one full-outer join (change set derived deterministically from
    // the key so both engines build the identical source).
    QueryDef("q_merge_upsert", (s, dir) => {
      val o = Tables.orders(s, dir)
      val k = col("o_orderkey")
      val target = o.filter(k % 10 =!= 9)
      val source = o
        .filter(k % 5 === 0 || k % 7 === 3 || k % 10 === 9)
        .withColumn("o_totalprice",
          when(k % 5 === 0 && k % 7 =!= 3, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .withColumn("is_delete", k % 7 === 3)
      graft.ops.Merge.mergeInto(target, source, Seq("o_orderkey"), "is_delete")
    },
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 9),
        |s AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 3
        |         THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    (o_orderkey % 7 = 3) AS del
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 3 OR o_orderkey % 10 = 9)
        |SELECT
        |  COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        |WHERE NOT COALESCE(s.del, false)""".stripMargin),

    // [EXT] SCD2 point-in-time lookup: every event joined to the
    // dimension version in force at its timestamp — Scd history
    // composed with the union-merge as-of join. The changelog is
    // pre-collapsed to one change per (user, tick) (max_by event_id)
    // so version opens are unique per timestamp and the as-of fill is
    // deterministic.
    QueryDef("q_scd2_lookup", (s, dir) => {
      val ev = Tables.events(s, dir)
      val chg = ev.groupBy(col("user_id"), col("ts"))
        .agg(
          max(col("event_id")).as("event_id"),
          expr("max_by(event_type, event_id)").as("event_type"))
      val hist = graft.ops.Scd.scd2FromChangelog(
          chg, Seq("user_id"), "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("tier"),
          col("effective_from"))
      graft.ops.AsOf.asOfJoin(
        ev.select("user_id", "ts", "event_id", "value"), hist,
        Seq("user_id"), "ts", "effective_from")
    },
      """WITH chg AS (
        |  SELECT user_id, ts, MAX(event_id) AS event_id,
        |    arg_max(event_type, event_id) AS event_type
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER w AS prev, ROW_NUMBER() OVER w AS rn
        |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |o AS (
        |  SELECT user_id, event_type AS tier, ts AS effective_from
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT e.user_id, e.ts, e.event_id, e.value, o.tier
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.effective_from""".stripMargin),

    // [EXT] SCD Type-2 dimension history from the event changelog:
    // per-user tier (event_type) versions with half-open validity
    // ranges; run-collapse + both windows on ONE key shuffle.
    QueryDef("q_scd2_history", (s, dir) =>
      graft.ops.Scd.scd2FromChangelog(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", "event_id", Seq("event_type")),
      // LAG cannot distinguish "no previous row" from "previous value was
      // null", so the first-row guard is an explicit ROW_NUMBER() = 1 —
      // the same null-safe boundary rule as the Spark side's lag-struct
      // IS NULL check.
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER w AS prev,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |o AS (
        |  SELECT user_id, event_type, ts AS effective_from, event_id
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (
        |  SELECT user_id, event_type, effective_from,
        |    LEAD(effective_from) OVER
        |      (PARTITION BY user_id ORDER BY effective_from, event_id)
        |      AS effective_to
        |  FROM o)
        |SELECT user_id, event_type, effective_from, effective_to,
        |  (effective_to IS NULL) AS is_current
        |FROM v""".stripMargin),

    // [EXT] CDC snapshot diff: insert/update/delete classification from
    // one full-outer join (both snapshots derived deterministically
    // from orders so the oracle builds the identical inputs).
    QueryDef("q_snapshot_diff", (s, dir) => {
      val o = Tables.orders(s, dir)
      val k = col("o_orderkey")
      val oldSnap = o.filter(k % 10 =!= 0)
      val newSnap = o.filter(k % 7 =!= 0)
        .withColumn("o_totalprice",
          when(k % 5 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
      graft.ops.Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
    },
      """WITH old AS (
        |  SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |new AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderkey IS NOT NULL AS in_old,
        |    n.o_orderkey IS NOT NULL AS in_new,
        |    o.o_custkey AS old_custkey, o.o_orderstatus AS old_status,
        |    o.o_totalprice AS old_price, o.o_orderdate AS old_date,
        |    o.o_orderpriority AS old_prio,
        |    n.o_custkey AS new_custkey, n.o_orderstatus AS new_status,
        |    n.o_totalprice AS new_price, n.o_orderdate AS new_date,
        |    n.o_orderpriority AS new_prio
        |  FROM old o FULL OUTER JOIN new n USING (o_orderkey)),
        |t AS (
        |  SELECT *,
        |    CASE WHEN NOT in_old THEN 'insert'
        |         WHEN NOT in_new THEN 'delete'
        |         WHEN old_custkey IS DISTINCT FROM new_custkey
        |           OR old_status IS DISTINCT FROM new_status
        |           OR old_price IS DISTINCT FROM new_price
        |           OR old_date IS DISTINCT FROM new_date
        |           OR old_prio IS DISTINCT FROM new_prio THEN 'update'
        |    END AS change_type
        |  FROM j)
        |SELECT o_orderkey,
        |  CASE WHEN change_type = 'delete' THEN old_custkey ELSE new_custkey END AS o_custkey,
        |  CASE WHEN change_type = 'delete' THEN old_status ELSE new_status END AS o_orderstatus,
        |  CASE WHEN change_type = 'delete' THEN old_price ELSE new_price END AS o_totalprice,
        |  CASE WHEN change_type = 'delete' THEN old_date ELSE new_date END AS o_orderdate,
        |  CASE WHEN change_type = 'delete' THEN old_prio ELSE new_prio END AS o_orderpriority,
        |  change_type
        |FROM t WHERE change_type IS NOT NULL""".stripMargin),

    // [EXT] Incremental view maintenance: merge a materialized
    // aggregate state with a delta's state — associativity makes the
    // merged result identical to the direct full aggregate, which IS
    // the oracle (base table never re-scanned at production scale).
    QueryDef("q_agg_merge", (s, dir) => {
      val ev = Tables.events(s, dir)
      val prev = graft.ops.Aggregate.aggState(
        ev.filter(col("event_id") % 4 =!= 0), Seq("event_type"), "value")
      val delta = graft.ops.Aggregate.aggState(
        ev.filter(col("event_id") % 4 === 0), Seq("event_type"), "value")
      graft.ops.Aggregate.mergeAggStates(prev, delta, Seq("event_type"))
        .withColumn("sum_val", col("sum_val").cast("double"))
    },
      // The oracle is the DIRECT aggregate over the full table — passing
      // proves the state merge is lossless.
      """SELECT event_type,
        |  COUNT(value) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
        |  MIN(value) AS min_val,
        |  MAX(value) AS max_val
        |FROM events GROUP BY 1""".stripMargin),

    // Hot-key-safe exact distinct count (two-phase dedup-then-count).
    QueryDef("q_distinct_users", (s, dir) =>
      Aggregate.countDistinctScalable(
        Tables.events(s, dir), Seq("event_type"), "user_id",
        outCol = "n_users"),
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type""".stripMargin),

    // [EXT] Record linkage: match customers against a deterministically
    // perturbed snapshot (typo'd names, drifted balances) — blocked
    // equi-join candidates, weighted similarity score.
    QueryDef("q_record_link", (s, dir) => {
      val c = Tables.customer(s, dir)
      val k = col("c_custkey")
      val right = c.select(
        k.as("r_custkey"),
        concat(substring(col("c_name"), 1, 17),
          when(k % 3 === 0, lit("X"))
            .otherwise(substring(col("c_name"), 18, 1))).as("r_name"),
        col("c_nationkey").as("r_nationkey"),
        when(k % 5 === 0, col("c_acctbal") + lit(0.5))
          .otherwise(col("c_acctbal")).as("r_acctbal"),
        col("c_mktsegment").as("r_mktsegment"))
      // acctbal band-blocking is EXACT here: 0.7·nameSim alone cannot
      // reach the 0.9 threshold, so every accepted pair needs the 0.3
      // balance term, which zeroes outside |Δ| < 1.0 — the band width.
      // Without it the 125 constant-cardinality (nation, segment)
      // blocks grow linearly with the corpus and pairs quadratically
      // (measured 39.9× wall-time at 30× data; see SCALING.md).
      graft.ops.Linkage.scoredLink(
        c, right,
        Seq("c_nationkey" -> "r_nationkey", "c_mktsegment" -> "r_mktsegment"),
        "c_custkey", "r_custkey",
        Seq(
          0.7 -> graft.ops.Linkage.nameSimilarity(
            col("c_name"), col("r_name"), maxDist = 2),
          0.3 -> when(abs(col("c_acctbal") - col("r_acctbal")) < 1.0, lit(1.0))
            .otherwise(lit(0.0))),
        threshold = 0.9,
        bandBlock = Some(("c_acctbal", "r_acctbal", 1.0)))
    },
      """WITH r AS (
        |  SELECT c_custkey AS r_custkey,
        |    substr(c_name, 1, 17) ||
        |      CASE WHEN c_custkey % 3 = 0 THEN 'X'
        |           ELSE substr(c_name, 18, 1) END AS r_name,
        |    c_nationkey AS r_nationkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.5
        |         ELSE c_acctbal END AS r_acctbal,
        |    c_mktsegment AS r_mktsegment
        |  FROM customer),
        |j AS (
        |  SELECT l.c_custkey, r.r_custkey,
        |    ROUND(
        |      0.7 * (CASE
        |        WHEN GREATEST(length(l.c_name), length(r.r_name)) = 0 THEN 1.0
        |        WHEN levenshtein(l.c_name, r.r_name) > 2 THEN 0.0
        |        ELSE 1.0 - CAST(levenshtein(l.c_name, r.r_name) AS DOUBLE)
        |          / CAST(GREATEST(length(l.c_name), length(r.r_name)) AS DOUBLE)
        |        END)
        |      + 0.3 * (CASE WHEN ABS(l.c_acctbal - r.r_acctbal) < 1.0
        |               THEN 1.0 ELSE 0.0 END), 6) AS score
        |  FROM customer l JOIN r
        |    ON l.c_nationkey = r.r_nationkey
        |   AND l.c_mktsegment = r.r_mktsegment)
        |SELECT c_custkey, r_custkey, score FROM j WHERE score >= 0.9""".stripMargin),

    // [EXT] Golden records: originals (priority 2, acctbal nulled for
    // k%7=0) + perturbed twins (priority 1, segment nulled for k%3=0)
    // collapse per entity with field-level survivorship — the trusted
    // source's null must NOT erase the twin's real value.
    QueryDef("q_golden_record", (s, dir) => {
      val c = Tables.customer(s, dir)
      val k = col("c_custkey")
      val originals = c.select(
        k.cast("long").as("rec_id"), lit(2L).as("priority"),
        col("c_name").as("name"), col("c_nationkey").as("nationkey"),
        when(k % 7 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("acctbal"),
        col("c_mktsegment").as("mktsegment"))
      val twins = c.select(
        (k + 1000000L).cast("long").as("rec_id"), lit(1L).as("priority"),
        concat(substring(col("c_name"), 1, 17),
          when(k % 3 === 0, lit("X"))
            .otherwise(substring(col("c_name"), 18, 1))).as("name"),
        col("c_nationkey").as("nationkey"),
        when(k % 5 === 0, col("c_acctbal") + lit(0.5))
          .otherwise(col("c_acctbal")).as("acctbal"),
        when(k % 3 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("mktsegment"))
      graft.ops.Linkage.goldenRecords(
        originals.unionByName(twins), "rec_id", "priority",
        c.select(k.cast("long").as("id_a"),
          (k + 1000000L).cast("long").as("id_b")),
        "id_a", "id_b",
        Seq("name", "nationkey", "acctbal", "mktsegment"))
    },
      // The unbanded levenshtein + "> 2 -> 0" CASE is equivalent to the
      // Spark side's banded levenshtein(a, b, 2) (-1 beyond the band).
      // Survivorship closed-form: the priority-2 original wins every
      // field it has; its engineered nulls fall through to the twin.
      """SELECT CAST(c_custkey AS BIGINT) AS entity_id,
        |  CAST(2 AS BIGINT) AS n_members,
        |  c_name AS name, c_nationkey AS nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.5
        |         ELSE c_acctbal END
        |  ELSE c_acctbal END AS acctbal,
        |  c_mktsegment AS mktsegment
        |FROM customer""".stripMargin),

    // [EXT] l-diversity audit: (segment, balance-band) classes whose
    // sensitive attribute (nation) shows fewer than l=10 distinct
    // values — the homogeneity-attack complement of q_kanon.
    QueryDef("q_ldiversity", (s, dir) =>
      graft.ops.Quality.lDiversityAudit(
        Tables.customer(s, dir)
          .withColumn("bal_band", floor(col("c_acctbal") / 50.0)
            .cast("long")),
        Seq("c_mktsegment", "bal_band"), "c_nationkey", 10L),
      """WITH c AS (
        |  SELECT c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 5e1) AS BIGINT) AS bal_band,
        |    c_nationkey, COUNT(*) AS cc
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT c_mktsegment, bal_band,
        |    CAST(SUM(cc) AS BIGINT) AS class_size,
        |    CAST(COUNT(*) AS BIGINT) AS n_sensitive_values
        |  FROM c GROUP BY 1, 2)
        |SELECT * FROM g WHERE n_sensitive_values < 10""".stripMargin),

    // [EXT] k-anonymity audit over (nation, market segment) quasi-
    // identifiers: every equivalence class smaller than k=15.
    QueryDef("q_kanon", (s, dir) =>
      graft.ops.Quality.kAnonymityAudit(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), 15L),
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT c_nationkey, c_mktsegment, class_size,
        |  CAST(class_size AS DOUBLE) / CAST(n AS DOUBLE) AS exposed_share
        |FROM c CROSS JOIN t WHERE class_size < 15""".stripMargin),

    // [EXT] Quality: Deequ-style dataset-promotion audit — row
    // predicates in ONE aggregate pass, key uniqueness, FK orphans.
    QueryDef("q_constraint_audit", (s, dir) => {
      import graft.ops.Quality
      val li = Tables.lineitem(s, dir)
      Quality.audit(Seq(
        Quality.rowChecks(li, Seq(
          "lineitem.quantity_positive" ->
            (col("l_quantity").isNull || col("l_quantity") <= 0),
          "lineitem.discount_unit_range" ->
            (col("l_discount").isNull || !col("l_discount").between(0.0, 1.0)),
          "lineitem.price_positive" ->
            (col("l_extendedprice").isNull || col("l_extendedprice") <= 0),
          "lineitem.shipdate_present" -> col("l_shipdate").isNull)),
        Quality.uniqueCheck(li, "lineitem.pk_unique",
          Seq("l_orderkey", "l_linenumber")),
        Quality.fkCheck(li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "lineitem.fk_orders"),
        Quality.fkCheck(li, "l_partkey",
          Tables.part(s, dir), "p_partkey", "lineitem.fk_part"),
        Quality.fkCheck(li, "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey", "lineitem.fk_supplier")))
    },
      {
        def row(name: String, viol: String) =
          s"""SELECT '$name' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN $viol THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN $viol THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS pass_rate FROM lineitem""".stripMargin
        def fk(name: String, ck: String, ptbl: String, pk: String) =
          s"""SELECT '$name' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS pass_rate
             |FROM lineitem l LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $ptbl) p
             |  ON l.$ck = p.pk""".stripMargin
        Seq(
          row("lineitem.quantity_positive",
            "l_quantity IS NULL OR l_quantity <= 0"),
          row("lineitem.discount_unit_range",
            "l_discount IS NULL OR l_discount < 0 OR l_discount > 1"),
          row("lineitem.price_positive",
            "l_extendedprice IS NULL OR l_extendedprice <= 0"),
          row("lineitem.shipdate_present", "l_shipdate IS NULL"),
          """SELECT 'lineitem.pk_unique' AS check_name,
            |  CAST(SUM(c) AS BIGINT) AS n_rows,
            |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_violations,
            |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS pass_rate
            |FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS c
            |      FROM lineitem GROUP BY 1, 2)""".stripMargin,
          fk("lineitem.fk_orders", "l_orderkey", "orders", "o_orderkey"),
          fk("lineitem.fk_part", "l_partkey", "part", "p_partkey"),
          fk("lineitem.fk_supplier", "l_suppkey", "supplier", "s_suppkey")
        ).mkString("", "\nUNION ALL\n", "")
      }),

    // [EXT] Benford first-digit audit on order totals (fraud/quality
    // signal; exact integer-string digit extraction).
    QueryDef("q_benford", (s, dir) =>
      graft.ops.Quality.benfordAudit(
        Tables.orders(s, dir), "o_totalprice"),
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        |      FROM d GROUP BY 1),
        |t AS (SELECT SUM(n_obs) AS n FROM c)
        |SELECT digit, n_obs,
        |  ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_obs,
        |  ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS p_benford,
        |  ROUND(ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    - ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6), 6)
        |    AS deviation
        |FROM c CROSS JOIN t""".stripMargin),
  )
}
