package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A1-A4 semantics: stddev n==1 guard, per-metric null skipping,
  * all-null metric emitting no row, group min(timestamp), unpivot shape.
  */
class AggregateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val df = Seq(
    // S1: two full rows → real stddev
    (ts("2025-01-01 00:00:00"), "S1", Some(10.0), Some(0.5), Some(1000.0)),
    (ts("2025-01-01 00:05:00"), "S1", Some(20.0), Some(0.7), None),
    // S2: single row → stddev 0.0; humidity null everywhere → no humidity row
    (ts("2025-01-02 00:00:00"), "S2", Some(5.0), None, Some(990.0)))
    .toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")

  private lazy val out = Aggregate.metricAggregates(
    df, Seq("sensor_id"), Seq("temperature", "humidity", "pressure"), "timestamp")

  test("one row per (sensor, metric) with data; all-null metrics emit none") {
    val keys = out.select("sensor_id", "metric_name")
      .as[(String, String)].collect().toSet
    assert(keys === Set(
      ("S1", "temperature"), ("S1", "humidity"), ("S1", "pressure"),
      ("S2", "temperature"), ("S2", "pressure"))) // no (S2, humidity)
  }

  test("stddev is sample (ddof=1) with n==1 -> 0.0 guard") {
    val m = out.select("sensor_id", "metric_name", "std_dev_value")
      .as[(String, String, Double)].collect()
      .map { case (s, mn, v) => (s, mn) -> v }.toMap
    assert(math.abs(m(("S1", "temperature")) - math.sqrt(50.0)) < 1e-12) // stddev_samp(10,20)
    assert(m(("S2", "temperature")) === 0.0) // n==1 guard
    assert(m(("S1", "pressure")) === 0.0)    // single non-null value
  }

  test("per-metric dropna: counts differ per metric within one group") {
    val m = out.select("sensor_id", "metric_name", "record_count")
      .as[(String, String, Long)].collect()
      .map { case (s, mn, v) => (s, mn) -> v }.toMap
    assert(m(("S1", "temperature")) === 2L)
    assert(m(("S1", "pressure")) === 1L) // one null skipped
  }

  test("aggregation_time is min(timestamp) over the whole group") {
    val m = out.select("sensor_id", "aggregation_time")
      .as[(String, Timestamp)].collect().toMap
    assert(m("S1") === ts("2025-01-01 00:00:00"))
  }

  test("min <= avg <= max invariant") {
    val bad = out.filter(
      col("min_value") > col("avg_value") || col("avg_value") > col("max_value"))
    assert(bad.count() === 0)
  }

  test("3 sensors x 3 metrics -> 9 rows (reference log invariant)") {
    val full = Seq(
      (ts("2025-01-01 00:00:00"), "A", 1.0, 0.5, 1000.0),
      (ts("2025-01-01 00:00:00"), "B", 2.0, 0.6, 1001.0),
      (ts("2025-01-01 00:00:00"), "C", 3.0, 0.7, 1002.0))
      .toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")
    assert(Aggregate.metricAggregates(full, Seq("sensor_id"),
      Seq("temperature", "humidity", "pressure"), "timestamp").count() === 9)
  }

  test("countDistinctScalable matches COUNT(DISTINCT) incl. null skipping") {
    val df = Seq(
      ("a", Option(1L)), ("a", Option(1L)), ("a", Option(2L)),
      ("a", Option.empty[Long]), ("b", Option(9L)),
      ("c", Option.empty[Long])) // ALL-null group must appear with 0
      .toDF("k", "v")
    val out = Aggregate.countDistinctScalable(df, Seq("k"), "v")
      .as[(String, Long)].collect().toMap
    assert(out === Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
    val builtin = df.groupBy("k").agg(countDistinct(col("v")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out === builtin)
  }

  test("mergeAggStates(prev, delta) equals the direct full aggregate") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sum_val", col("sum_val").cast("double"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    val prev = Aggregate.aggState(
      ev.filter(col("event_id") % 4 =!= 0), Seq("event_type"), "value")
    val delta = Aggregate.aggState(
      ev.filter(col("event_id") % 4 === 0), Seq("event_type"), "value")
    val merged = canon(
      Aggregate.mergeAggStates(prev, delta, Seq("event_type")))
    val direct = canon(Aggregate.aggState(ev, Seq("event_type"), "value"))
    assert(merged.nonEmpty && merged == direct)
  }

  test("mergeAggStates merges a group present on only one side") {
    val prev = Aggregate.aggState(
      Seq(("a", 1.0), ("a", 3.0)).toDF("g", "v"), Seq("g"), "v")
    val delta = Aggregate.aggState(
      Seq(("b", 5.0)).toDF("g", "v"), Seq("g"), "v")
    val out = Aggregate.mergeAggStates(prev, delta, Seq("g"))
      .withColumn("sum_val", col("sum_val").cast("double"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(out == Set(("a", 2L, 4.0, 1.0, 3.0), ("b", 1L, 5.0, 5.0, 5.0)))
  }

  test("mergeAggStates rejects drifted state schemas") {
    val prev = Aggregate.aggState(
      Seq(("a", 1.0)).toDF("g", "v"), Seq("g"), "v")
    val e = intercept[IllegalArgumentException] {
      Aggregate.mergeAggStates(prev, prev.drop("max_val"), Seq("g"))
    }
    assert(e.getMessage.contains("schema"))
  }
}
