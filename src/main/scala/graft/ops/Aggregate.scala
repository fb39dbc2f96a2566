package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1–A4: per-group metric aggregation and wide→long unpivot.
  *
  * Reference semantics (`pipeline.py:186-208`):
  *   - group by sensor_id; `aggregation_time = min(timestamp)` over the
  *     WHOLE group (`pipeline.py:192`), not per metric;
  *   - each metric dropna'd independently before aggregating
  *     (`pipeline.py:195`) → per-metric counts differ; a metric with no
  *     non-null values emits NO row (`pipeline.py:196`);
  *   - stddev is SAMPLE (ddof=1) with an explicit n==1 → 0.0 guard
  *     (`pipeline.py:205`).
  *
  * Spark mapping: one hash aggregation (Catalyst partial+final — the
  * map-side combine makes the shuffle carry one row per (group, 16
  * agg buffers), not the data) followed by a zero-shuffle `stack`
  * unpivot. Null-skipping of `min/max/avg/count(col)` matches the
  * per-metric dropna natively.
  */
object Aggregate {

  /** Sample stddev with the reference's n==1 (and n==0) → 0.0 guard.
    * `stddev_samp` yields null for n<=1; never use `stddev_pop` here.
    */
  def stddevGuarded(c: Column): Column = coalesce(stddev_samp(c), lit(0.0))

  /** Wide aggregate: one row per group, 5 measures per metric + group
    * min(timestamp).
    */
  def wideAggregates(
      df: DataFrame,
      groupCols: Seq[String],
      metrics: Seq[String],
      tsCol: String): DataFrame = {
    val aggs: Seq[Column] =
      min(col(tsCol)).as("aggregation_time") +:
        metrics.flatMap { m =>
          Seq(
            min(col(m)).as(s"${m}_min"),
            max(col(m)).as(s"${m}_max"),
            avg(col(m)).as(s"${m}_avg"),
            stddevGuarded(col(m)).as(s"${m}_std"),
            count(col(m)).as(s"${m}_cnt"))
        }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A2: unpivot the wide aggregate into the reference's long format —
    * one row per (group, metric), dropping metrics with zero non-null
    * values (`pipeline.py:196`). `stack` is a pure projection: no
    * shuffle, stays in the same stage as the final aggregation.
    */
  def unpivotToLong(wide: DataFrame, metrics: Seq[String]): DataFrame = {
    val stackArgs = metrics.map { m =>
      s"'$m', ${m}_min, ${m}_max, ${m}_avg, ${m}_std, ${m}_cnt"
    }.mkString(", ")
    val keep = wide.columns
      .filterNot(c => metrics.exists(m => c.startsWith(s"${m}_")))
    wide.selectExpr(
      keep ++ Seq(s"stack(${metrics.size}, $stackArgs) as " +
        "(metric_name, min_value, max_value, avg_value, std_dev_value, record_count)"): _*)
      .filter(col("record_count") > 0)
  }

  /** A1+A2 composed: the reference's `calculate_aggregates` as one plan. */
  def metricAggregates(
      df: DataFrame,
      groupCols: Seq[String],
      metrics: Seq[String],
      tsCol: String): DataFrame =
    unpivotToLong(wideAggregates(df, groupCols, metrics, tsCol), metrics)

  /** A4/S5: per-group row counts (empty-file detection is `n_rows == 0`
    * against an expected-group frame, see `q_empty_check`).
    */
  def groupCounts(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n_rows"))

  /** [EXT] Hot-key-safe exact distinct count per group.
    *
    * `countDistinct` shuffles ALL of a group's values to one reducer —
    * a single hot key (one user with a billion events) concentrates its
    * whole value set on one task. The two-phase form dedups on
    * (group, value) first, so phase 1 spreads a hot group across the
    * cluster by value hash (partial aggregation dedups map-side too);
    * phase 2 then counts one row per distinct value. Same answer, no
    * single-task hotspot — the groupBy analog of AQE's skew-join split.
    */
  def countDistinctScalable(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      outCol: String = "n_distinct"): DataFrame =
    df.select((groupCols :+ valueCol).map(col): _*)
      .distinct() // null survives as one row per group…
      .groupBy(groupCols.map(col): _*)
      .agg(count(col(valueCol)).as(outCol)) // …but count(col) skips it:
      // groups whose values are ALL null still appear, with 0 — exactly
      // COUNT(DISTINCT x)'s contract.

  /** Mergeable per-group aggregate STATE over `valueCol` — the unit of
    * incremental view maintenance: (n, sum, min, max), i.e. exactly
    * the fields a later [[mergeAggStates]] can combine associatively.
    * Non-mergeable forms (avg) are DERIVED at read time (`sum/n`),
    * never stored. The sum is decimal-exact so merge order cannot
    * perturb it.
    */
  def aggState(
      df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(col(valueCol)).as("n"),
        sum(col(valueCol).cast("decimal(18,6)")).as("sum_val"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"))

  /** Merge two aggregate-state tables (e.g. yesterday's materialized
    * state + today's delta): re-aggregating the UNION of states with
    * the states' own merge functions (sum of n/sum, min of min, max of
    * max) — by associativity, identical to aggregating the raw union.
    * This is how a 100 TB nightly rollup stays O(delta): the base
    * table is never re-scanned, only the two small state tables meet
    * in one hash aggregate.
    */
  def mergeAggStates(
      prev: DataFrame, delta: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    require(prev.columns.toSeq == delta.columns.toSeq,
      "aggregate states must share one schema")
    prev.unionByName(delta)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_val")).as("sum_val"),
        min(col("min_val")).as("min_val"),
        max(col("max_val")).as("max_val"))
  }
}
