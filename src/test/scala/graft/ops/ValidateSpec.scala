package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.config.PipelineConf

/** V1-V5 / F1-F4 semantics, incl. byte-exact reference error strings
  * (format evidence: `quarantine/quarantine_log.txt:2-5`).
  */
class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private val conf = PipelineConf()

  /** All-string sensor rows as the reference reads them (dtype=str). */
  private def sensorDf(rows: (String, String, String, String, String)*) =
    rows.toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")

  private def validated(rows: (String, String, String, String, String)*) = {
    val df = sensorDf(rows: _*)
      .withColumn("row_num",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(monotonically_increasing_id())).cast("long"))
    Validate.withValidation(df, conf)
      .withColumn("row_errors", Validate.rowErrors(conf, col("row_num") + 1))
  }

  test("valid row passes all predicates") {
    val v = validated(("2025-05-26 04:36:08", "S1", "26.41", "0.95", "1014.74"))
      .select("is_valid", "row_errors").as[(Boolean, Option[String])].collect()
    assert(v === Array((true, None)))
  }

  test("unparsable timestamp error matches reference format") {
    // quarantine_log.txt:2: "Row 3: 'timestamp' ('Weather_Station_Main') is unparsable."
    val v = validated(
      ("x", "ignored", "1", "1", "1"), // filler so target lands at row_num=2 → line 3
      ("Weather_Station_Main", "S1", "12.76", "0.32", "1024.19"))
      .filter(col("row_num") === 2).select("row_errors").as[String].head()
    assert(v.contains("Row 3: 'timestamp' ('Weather_Station_Main') is unparsable."))
  }

  test("non-numeric temperature error matches reference format") {
    // quarantine_log.txt:3: "Row 2: 'temperature' ('abc') is not a valid number."
    val v = validated(("2025-05-26 04:36:08", "S1", "abc", "0.5", "1000"))
      .select("row_errors").as[String].head()
    assert(v === "Row 2: 'temperature' ('abc') is not a valid number.")
  }

  test("null humidity error matches reference format") {
    // quarantine_log.txt:4: "Row 9: 'humidity' is null."
    val v = validated(("2025-05-26 04:36:08", "S1", "20.0", null, "1000"))
      .select("row_errors").as[String].head()
    assert(v === "Row 2: 'humidity' is null.")
  }

  test("out-of-range errors render parsed value and bounds like the reference") {
    // quarantine_log.txt:2: "'humidity' (1024.19) out of range [0.0, 1.0]." — our
    // default humidity range is the config one [0.2, 0.99].
    val v = validated(("2025-05-26 04:36:08", "S1", "-60.69", "1024.19", null))
      .select("row_errors").as[String].head()
    assert(v ===
      "Row 2: 'temperature' (-60.69) out of range [-50.0, 50.0].; " +
        "Row 2: 'humidity' (1024.19) out of range [0.2, 0.99].; " +
        "Row 2: 'pressure' is null.")
  }

  test("valid + invalid partition the input (lenient split)") {
    val df = validated(
      ("2025-05-26 04:36:08", "S1", "26.41", "0.95", "1014.74"),
      ("2025-05-26 04:36:09", null, "26.41", "0.95", "1014.74"),
      ("NOT_A_VALID_TIMESTAMP", "S2", "26.41", "0.95", "1014.74"))
    val n = df.count()
    val good = df.filter(col("is_valid")).count()
    val bad = df.filter(!col("is_valid")).count()
    assert(good === 1 && bad === 2 && good + bad === n)
    // errors exist exactly on invalid rows
    assert(df.filter(col("is_valid") && col("row_errors").isNotNull).count() === 0)
    assert(df.filter(!col("is_valid") && col("row_errors").isNull).count() === 0)
  }

  test("strict verdict: first failing row aborts the file with reference reason") {
    val df = validated(
      ("2025-05-26 04:36:08", "S1", "26.41", "0.95", "1014.74"),
      ("2025-05-26 04:36:09", "S1", "abc", "0.95", "1014.74"),
      ("2025-05-26 04:36:10", "S1", null, "0.95", "1014.74"))
      .withColumn("file", lit("f1.csv"))
    val v = Validate.strictVerdicts(df, "file", col("row_num"),
      (bad, _) => bad + 1, Validate.rowErrors(conf, _)).as[
      (String, Long, Long, Option[Long], Option[String], Boolean)].head()
    assert(v === (("f1.csv", 3L, 2L, Some(3L),
      Some("Validation failed at row 3: Row 3: 'temperature' ('abc') is not a valid number."),
      false)))
  }

  test("group routing keeps only rows of fully-clean files") {
    val df = validated(
      ("2025-05-26 04:36:08", "S1", "26.41", "0.95", "1014.74"),
      ("2025-05-26 04:36:09", "S1", "abc", "0.95", "1014.74"))
      .withColumn("file",
        when(col("row_num") === 1, "clean.csv").otherwise("dirty.csv"))
    val routed = Validate.routeValidGroups(df, Seq("file"))
    assert(routed.select("file").as[String].collect().toSet === Set("clean.csv"))
  }

  test("dropNaAny drops rows with any null in the subset") {
    val df = Seq(
      (Some(1.0), Some(2.0)), (None, Some(2.0)), (Some(1.0), None))
      .toDF("a", "b")
    assert(Validate.dropNaAny(df, Seq("a", "b")).count() === 1)
  }
}
