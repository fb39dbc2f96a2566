package graft.schema

import org.apache.spark.sql.types._

/** All fixed schemas in the engine, declared as `StructType` constants —
  * the pipeline never uses `inferSchema` (reference declares its one
  * schema in code at `pipeline.py:97`; missing columns are a file-level
  * error, `pipeline.py:100-105`).
  */
object Schemas {

  /** Input CSV columns in file order (`pipeline.py:97`). */
  val sensorColumns: Seq[String] =
    Seq("timestamp", "sensor_id", "temperature", "humidity", "pressure")

  /** String-first read schema: every column lands as a string so
    * validation can distinguish "unparsable" from "missing" before any
    * cast (`pd.read_csv(dtype=str)`, `pipeline.py:286`).
    */
  val sensorCsvRaw: StructType =
    StructType(sensorColumns.map(StructField(_, StringType, nullable = true)))

  /** Post-validation typed schema (bulk cast at `pipeline.py:170-179`). */
  val sensorTyped: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = true),
    StructField("sensor_id", StringType, nullable = true),
    StructField("temperature", DoubleType, nullable = true),
    StructField("humidity", DoubleType, nullable = true),
    StructField("pressure", DoubleType, nullable = true),
  ))

  /** The three metric columns aggregated per sensor (`pipeline.py:193`). */
  val metricColumns: Seq[String] = Seq("temperature", "humidity", "pressure")

  /** Sink schema of `raw_sensor_data` minus DB-generated columns
    * (AUTO_INCREMENT id, processed_at default) — those are produced by
    * the sink database, never by the engine
    * (`setup_database_in_mysql.py:58-71`).
    */
  val rawSink: StructType = StructType(
    sensorTyped.fields :+ StructField("file_name", StringType, nullable = true))

  /** Long-format aggregate sink `aggregated_sensor_data`
    * (`setup_database_in_mysql.py:81-97`): one row per
    * (sensor, file, metric), metric_name ∈ {temperature,humidity,pressure}.
    */
  val aggSink: StructType = StructType(Seq(
    StructField("sensor_id", StringType, nullable = false),
    StructField("file_name", StringType, nullable = true),
    StructField("aggregation_time", TimestampType, nullable = true),
    StructField("metric_name", StringType, nullable = false),
    StructField("min_value", DoubleType, nullable = true),
    StructField("max_value", DoubleType, nullable = true),
    StructField("avg_value", DoubleType, nullable = true),
    StructField("std_dev_value", DoubleType, nullable = true),
    StructField("record_count", LongType, nullable = false),
  ))

  /** NA tokens normalized to null at read time — the pandas default NA
    * list the reference relies on (`pipeline.py:286`) plus the explicit
    * empty-string normalization (`pipeline.py:108-111`).
    */
  val naTokens: Seq[String] = Seq(
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** Multimodal document row: media payloads are opaque binary columns
    * with typed metadata travelling beside them (north-star extension;
    * no reference equivalent).
    */
  val multimodal: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true),
  ))
}
