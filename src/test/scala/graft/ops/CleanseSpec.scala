package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Schemas

class CleanseSpec extends SparkSpec {
  import spark.implicits._

  test("naNormalize nulls every pandas NA token but keeps real values") {
    val vals = Schemas.naTokens ++ Seq("0", "abc", " 1.5 ", "NaNa")
    val df = vals.toDF("v")
      .select(col("v"), Cleanse.naNormalize(col("v")).as("n"))
    val nulled = df.filter(col("n").isNull).count()
    assert(nulled === Schemas.naTokens.size)
    assert(df.filter(col("n") === "NaNa").count() === 1)
  }

  test("tryTimestamp parses evidenced formats, nulls garbage") {
    val df = Seq(
      "2025-05-26 04:36:08",
      "2006-03-31T22:00:00",
      "2006-04-01",
      "NOT_A_VALID_TIMESTAMP").toDF("v")
      .select(Cleanse.tryTimestamp(col("v")).as("t"))
    assert(df.filter(col("t").isNotNull).count() === 3)
  }

  test("tryDouble is TRY_CAST: null on garbage, no exception (ANSI off)") {
    val df = Seq("26.41", "-60.69", "abc", "1e3").toDF("v")
      .select(Cleanse.tryDouble(col("v")).as("d"))
    assert(df.filter(col("d").isNotNull).count() === 3)
  }

  test("castTyped bulk-casts all-string frame to the typed schema") {
    val df = Seq(("2025-05-26 04:36:08", "S1", "26.41", "0.95", "1014.74"))
      .toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")
    val out = CleanseReference.castTyped(df)
    assert(out.schema("timestamp").dataType.typeName === "timestamp")
    assert(out.schema("temperature").dataType.typeName === "double")
    assert(out.head().getAs[Double]("temperature") === 26.41)
  }
}
