package graft

/** The driver's flagship smoke contract: `SparkEntry.entry` must return
  * rows on sf0.001 with nothing but a SparkSession — every session
  * conf it needs (ANSI off, parquet nanosAsLong, UTC) is applied by
  * `Tables.prepare` inside the query, not assumed from the caller.
  */
class EntrySpec extends SparkSpec {
  test("flagship entry returns rows and the expected aggregate shape") {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    assert(n > 0, "flagship query returned no rows")
    // long-format metric aggregate: one row per (user, metric)
    assert(df.columns.contains("metric_name"))
    assert(df.columns.contains("record_count"))
  }

  test("prepare fills the skew-join defaults only where the session " +
    "has no value of its own") {
    val threshold = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    val factor = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    val tuned = spark.newSession()
    tuned.conf.set(factor, "7")
    Tables.prepare(tuned)
    assert(tuned.conf.get(factor) === "7")
    assert(tuned.conf.get(threshold) === "32m")
    val untouched = spark.newSession()
    assert(!untouched.conf.getAll.contains(factor))
    Tables.prepare(untouched)
    assert(untouched.conf.get(threshold) === "32m")
    assert(untouched.conf.get(factor) === "2")
  }
}
