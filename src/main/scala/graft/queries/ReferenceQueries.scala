package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Aggregate, Prep, Validate}
import graft.plans.Ordinal
import Shared.{ValueLo, ValueHi, valueValid}

/** The reference's relational core (SURVEY.md §2's non-[EXT] keys): scan
  * and cast, projection, validation and routing, per-sensor aggregates,
  * upsert and chunking over the `events` analog, through
  * `graft.ops.Cleanse`, `Prep`, `Validate` and `Aggregate`. `graft.Bench`
  * reports these names' subtotal as the part comparable with BASELINE.md.
  */
object ReferenceQueries {

  /** Reference-format error string for the events analog
    * (`pipeline.py:129-137` shape, `%.2f` rendering on both engines —
    * round(2) first so a binary-exact half rounds the same way in
    * Spark and DuckDB; see Olap.render for the full rationale).
    */
  private def valueError(lineNo: Column): Column =
    when(col("value").isNull,
      concat(lit("Row "), lineNo, lit(": 'value' is null.")))
      .when(!col("value").between(ValueLo, ValueHi),
        concat(lit("Row "), lineNo, lit(": 'value' ("),
          format_string("%.2f", round(col("value"), 2)),
          lit(s") out of range [$ValueLo, $ValueHi].")))

  /** events + distributed global line number (1 header line + 1-based
    * data rows — the reference's `index+2` CSV-line semantics).
    */
  private def eventsWithLineNo(s: SparkSession, dir: String): DataFrame =
    Ordinal.withGlobalRowNumber(
      Tables.events(s, dir), Seq(col("event_id")), "row_num")
      .withColumn("line_no", col("row_num") + 1)

  val defs: Seq[QueryDef] = Seq(

    // S1/P3/P6: string-first scan + NA normalization + TRY_CAST back.
    // Values round-trip through each engine's own string rendering; the
    // compared output is the recovered typed columns.
    QueryDef("q_scan_cast", (s, dir) => {
      val ev = Tables.events(s, dir)
      val vstr = when(col("user_id") % 10 === 0, lit("N/A"))
        .otherwise(col("value").cast("string"))
      ev.select(
        col("event_id"),
        try_to_timestamp(
          graft.ops.Cleanse.naNormalize(
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")),
          lit("yyyy-MM-dd HH:mm:ss")).as("ts_cast"),
        graft.ops.Cleanse.tryDouble(
          graft.ops.Cleanse.naNormalize(vstr)).as("value_cast"))
    },
      """SELECT event_id,
        |  TRY_CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts_cast,
        |  TRY_CAST(CASE WHEN user_id % 10 = 0 THEN 'N/A' ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS value_cast
        |FROM events""".stripMargin),

    // P1/P2: rename + fixed-order projection.
    QueryDef("q_rename_project", (s, dir) =>
      Prep.renameProject(
        Tables.events(s, dir),
        renames = Seq("ts" -> "event_time", "user_id" -> "sensor_id",
          "value" -> "reading"),
        order = Seq("event_id", "event_time", "sensor_id", "reading")),
      "SELECT event_id, ts AS event_time, user_id AS sensor_id, value AS reading FROM events"),

    // P4: round-robin tag by global row position (distributed ordinal).
    QueryDef("q_roundrobin_tag", (s, dir) =>
      Prep.roundRobinTag(
        Tables.events(s, dir).select("event_id"),
        ids = Seq("Kaggle_Weather_01", "Kaggle_Weather_02", "Kaggle_Weather_03"),
        orderKey = col("event_id"), outCol = "sensor_id"),
      """SELECT event_id,
        |  CASE CAST((ROW_NUMBER() OVER (ORDER BY event_id) - 1) % 3 AS INT)
        |    WHEN 0 THEN 'Kaggle_Weather_01'
        |    WHEN 1 THEN 'Kaggle_Weather_02'
        |    ELSE 'Kaggle_Weather_03' END AS sensor_id
        |FROM events""".stripMargin),

    // P5: timestamp parse + reformat.
    QueryDef("q_ts_parse_format", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"), Prep.tsParseFormat(col("ts")).as("ts_fmt")),
      "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_fmt FROM events"),

    // F1/V1-V5: conjunction filter.
    QueryDef("q_validate_filter", (s, dir) =>
      Tables.events(s, dir).filter(
        col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && valueValid),
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND value BETWEEN 0.0 AND 200.0""".stripMargin),

    // F2: complement + reference-format error-string synthesis.
    QueryDef("q_invalid_rows", (s, dir) =>
      eventsWithLineNo(s, dir)
        .filter(!valueValid)
        .select(col("event_id"), col("line_no"),
          valueError(col("line_no")).as("row_errors")),
      """WITH n AS (
        |  SELECT event_id, value, ROW_NUMBER() OVER (ORDER BY event_id) + 1 AS line_no
        |  FROM events)
        |SELECT event_id, line_no,
        |  CASE WHEN value IS NULL THEN 'Row ' || line_no || ': ''value'' is null.'
        |       ELSE 'Row ' || line_no || ': ''value'' (' || printf('%.2f', ROUND(value, 2))
        |            || ') out of range [0.0, 200.0].' END AS row_errors
        |FROM n
        |WHERE value IS NULL OR value < 0.0 OR value > 200.0""".stripMargin),

    // F3: strict per-file (group) verdict with first-error reason.
    QueryDef("q_strict_file_flag", (s, dir) =>
      Validate.strictVerdicts(
        eventsWithLineNo(s, dir).withColumn("is_valid", valueValid),
        "event_type", col("line_no"), (bad, _) => bad, valueError),
      """WITH n AS (
        |  SELECT event_type, value, ROW_NUMBER() OVER (ORDER BY event_id) + 1 AS line_no
        |  FROM events),
        |i AS (
        |  SELECT *, (value IS NULL OR value < 0.0 OR value > 200.0) AS bad,
        |    CASE WHEN value IS NULL THEN 'Row ' || line_no || ': ''value'' is null.'
        |         WHEN value < 0.0 OR value > 200.0
        |           THEN 'Row ' || line_no || ': ''value'' (' || printf('%.2f', ROUND(value, 2))
        |                || ') out of range [0.0, 200.0].' END AS err
        |  FROM n),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN bad THEN 1 END) AS n_invalid,
        |    MIN(CASE WHEN bad THEN line_no END) AS first_bad_row
        |  FROM i GROUP BY event_type)
        |SELECT g.event_type, g.n_rows, g.n_invalid, g.first_bad_row,
        |  CASE WHEN g.first_bad_row IS NULL THEN NULL
        |       ELSE 'Validation failed at row ' || g.first_bad_row || ': ' || i2.err
        |  END AS first_error,
        |  (g.n_invalid = 0) AS is_clean
        |FROM g LEFT JOIN i i2
        |  ON i2.event_type = g.event_type AND i2.line_no = g.first_bad_row""".stripMargin),

    // F4: rows of all-valid (user, event_type) groups only.
    QueryDef("q_route_valid_groups", (s, dir) =>
      Validate.routeValidGroups(
        Tables.events(s, dir).withColumn("is_valid", valueValid),
        Seq("user_id", "event_type"))
        .drop("is_valid"),
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE (user_id, event_type) IN (
        |  SELECT (user_id, event_type) FROM events GROUP BY user_id, event_type
        |  HAVING COUNT(CASE WHEN value IS NULL OR value < 0.0 OR value > 200.0 THEN 1 END) = 0)""".stripMargin),

    // F5: dropna(how='any') on derived nullable columns.
    QueryDef("q_dropna", (s, dir) => {
      val derived = Tables.events(s, dir).select(
        col("event_id"),
        when(col("user_id") % 10 =!= 0, col("user_id")).as("user_id_n"),
        when(col("value") <= ValueHi, col("value")).as("value_n"))
      Validate.dropNaAny(derived, Seq("user_id_n", "value_n"))
    },
      """SELECT * FROM (
        |  SELECT event_id,
        |    CASE WHEN user_id % 10 <> 0 THEN user_id END AS user_id_n,
        |    CASE WHEN value <= 200.0 THEN value END AS value_n
        |  FROM events)
        |WHERE user_id_n IS NOT NULL AND value_n IS NOT NULL""".stripMargin),

    // A1/A3: per-sensor metric aggregation (long format, one metric).
    QueryDef("q_agg_metrics", (s, dir) =>
      Aggregate.metricAggregates(
        Tables.events(s, dir), Seq("user_id"), Seq("value"), "ts")
        .withColumn("avg_value", round(col("avg_value"), 6))
        .withColumn("std_dev_value", round(col("std_dev_value"), 6)),
      """SELECT user_id, MIN(ts) AS aggregation_time, 'value' AS metric_name,
        |  MIN(value) AS min_value, MAX(value) AS max_value,
        |  ROUND(AVG(value), 6) AS avg_value,
        |  ROUND(COALESCE(STDDEV_SAMP(value), 0), 6) AS std_dev_value,
        |  COUNT(value) AS record_count
        |FROM events GROUP BY user_id HAVING COUNT(value) > 0""".stripMargin),

    // A2: 3-metric wide→long unpivot over lineitem.
    QueryDef("q_unpivot_agg", (s, dir) =>
      Aggregate.metricAggregates(
        Tables.lineitem(s, dir), Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), "l_shipdate")
        .withColumn("avg_value", round(col("avg_value"), 6))
        .withColumn("std_dev_value", round(col("std_dev_value"), 6)),
      """WITH w AS (
        |  SELECT l_returnflag, MIN(l_shipdate) AS aggregation_time,
        |    MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
        |    ROUND(AVG(l_quantity), 6) AS q_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_quantity), 0), 6) AS q_std,
        |    COUNT(l_quantity) AS q_cnt,
        |    MIN(l_extendedprice) AS e_min, MAX(l_extendedprice) AS e_max,
        |    ROUND(AVG(l_extendedprice), 6) AS e_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_extendedprice), 0), 6) AS e_std,
        |    COUNT(l_extendedprice) AS e_cnt,
        |    MIN(l_discount) AS d_min, MAX(l_discount) AS d_max,
        |    ROUND(AVG(l_discount), 6) AS d_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_discount), 0), 6) AS d_std,
        |    COUNT(l_discount) AS d_cnt
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, aggregation_time, 'l_quantity' AS metric_name,
        |  q_min AS min_value, q_max AS max_value, q_avg AS avg_value,
        |  q_std AS std_dev_value, q_cnt AS record_count FROM w WHERE q_cnt > 0
        |UNION ALL
        |SELECT l_returnflag, aggregation_time, 'l_extendedprice',
        |  e_min, e_max, e_avg, e_std, e_cnt FROM w WHERE e_cnt > 0
        |UNION ALL
        |SELECT l_returnflag, aggregation_time, 'l_discount',
        |  d_min, d_max, d_avg, d_std, d_cnt FROM w WHERE d_cnt > 0""".stripMargin),

    // S5/A4: per-group counts against an expected domain (empty groups
    // surface with n_rows = 0).
    QueryDef("q_empty_check", (s, dir) => {
      import s.implicits._
      val expected = Seq("click", "error", "heartbeat", "purchase",
        "signup", "view").toDF("event_type")
      val counts = Aggregate.groupCounts(
        Tables.events(s, dir), Seq("event_type"))
      expected.join(counts, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .withColumn("is_empty", col("n_rows") === 0)
    },
      """SELECT e.event_type, COALESCE(c.n_rows, 0) AS n_rows,
        |  (COALESCE(c.n_rows, 0) = 0) AS is_empty
        |FROM (VALUES ('click'),('error'),('heartbeat'),('purchase'),('signup'),('view')) e(event_type)
        |LEFT JOIN (SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY event_type) c
        |  ON e.event_type = c.event_type""".stripMargin),

    // K2: last-write-wins upsert by unique key.
    QueryDef("q_upsert_latest", (s, dir) =>
      Prep.upsertLatest(
        Tables.events(s, dir),
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq(col("ts"), col("event_id"))),
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""".stripMargin),

    // K6: chunk-id assignment (1000-row chunks).
    QueryDef("q_chunk_split", (s, dir) =>
      Prep.chunkSplit(
        Tables.events(s, dir).select("event_id"),
        chunkRows = 1000, orderKey = col("event_id"), outCol = "chunk_id"),
      """SELECT event_id,
        |  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) / 1000) AS BIGINT) AS chunk_id
        |FROM events""".stripMargin),
  )
}
