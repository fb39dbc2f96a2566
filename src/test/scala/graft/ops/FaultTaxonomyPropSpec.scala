package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.config.PipelineConf

/** Property-based port of the reference's fault-injection generator
  * (`test_csv_files_generator.py:70-86`): random files with seeded
  * errors from its six-way taxonomy; the strict/lenient invariants must
  * hold for every generated file.
  */
class FaultTaxonomyPropSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling loop (scalatest/scalacheck bridge is not in
    * the offline cache — raw Gen + fixed seeds gives the same coverage
    * reproducibly).
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val conf = PipelineConf()

  private val sensorIds =
    Seq("Kaggle_Sim_A01", "Kaggle_Sim_B02", "Kaggle_Sim_C03", "Weather_Station_Main")

  // Normal generation ranges (test_csv_files_generator.py:13-18)
  private val goodRow: Gen[(String, String, String, String, String)] = for {
    s <- Gen.oneOf(sensorIds)
    h <- Gen.choose(1, 120)
    t <- Gen.choose(-5.0, 35.0)
    hum <- Gen.choose(0.20, 0.99)
    p <- Gen.choose(980.0, 1050.0)
  } yield (f"2025-05-26 ${h % 24}%02d:00:00", s, f"$t%.2f", f"$hum%.2f", f"$p%.2f")

  // Fault taxonomy (ibid.:70-86)
  private val badRow: Gen[(String, String, String, String, String)] =
    goodRow.flatMap { case (ts, s, t, h, p) =>
      Gen.oneOf(
        (ts, null, t, h, p),                             // null_key_sensor_id
        ("NOT_A_VALID_TIMESTAMP", s, t, h, p),           // null_key_timestamp
        (ts, s, "abc", h, p),                            // bad_type_temp
        (ts, s, "-70.0", h, p),                          // out_of_range_temp_low
        (ts, s, "65.0", h, p),                           // out_of_range_temp_high
        (ts, s, t, null, p))                             // null_reading_humidity
    }

  private val fileGen: Gen[(List[(String, String, String, String, String)], Int)] =
    for {
      nGood <- Gen.choose(3, 20)
      nBad <- Gen.frequency(4 -> Gen.const(0), 6 -> Gen.choose(1, 3))
      good <- Gen.listOfN(nGood, goodRow)
      bad <- Gen.listOfN(nBad, badRow)
    } yield (scala.util.Random.shuffle(good ++ bad), nBad)

  test("strict verdict: file is dirty iff >=1 row violates V1-V5; counts partition") {
    forAllSeeded(fileGen, 15) { case (rows, nBad) =>
      val df = rows.toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")
        .withColumn("row_num", monotonically_increasing_id() + 1)
      val v = Validate.withValidation(df, conf)
        .withColumn("file", lit("f"))
      val verdict = Validate.strictVerdicts(v, "file", col("row_num"),
        (bad, _) => bad + 1, Validate.rowErrors(conf, _))
        .select("n_rows", "n_invalid", "is_clean")
        .as[(Long, Long, Boolean)].head()
      assert(verdict._1 === rows.size.toLong)
      assert(verdict._2 === nBad.toLong)
      assert(verdict._3 === (nBad == 0))
      // lenient split partitions the file
      val good = v.filter(col("is_valid")).count()
      assert(good === (rows.size - nBad).toLong)
    }
  }

  test("aggregate invariants on routed clean data") {
    forAllSeeded(fileGen, 10) { case (rows, _) =>
      val df = rows.toDF("timestamp", "sensor_id", "temperature", "humidity", "pressure")
        .withColumn("row_num", monotonically_increasing_id() + 1)
      val clean = CleanseReference.castTyped(
        Validate.withValidation(df, conf).filter(col("is_valid")))
      val agg = Aggregate.metricAggregates(
        clean, Seq("sensor_id"), Seq("temperature", "humidity", "pressure"),
        "timestamp")
      val n = clean.count()
      if (n > 0) {
        val sensors = clean.select("sensor_id").distinct().count()
        // <= 3 metric rows per sensor; record_count bounded by group size
        assert(agg.count() <= sensors * 3)
        assert(agg.filter(col("record_count") > n).count() === 0)
        assert(agg.filter(
          col("min_value") > col("avg_value") ||
            col("avg_value") > col("max_value")).count() === 0)
        assert(agg.filter(col("std_dev_value").isNull).count() === 0)
      }
    }
  }
}
