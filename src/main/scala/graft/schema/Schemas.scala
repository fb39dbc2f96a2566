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

  /** The three metric columns aggregated per sensor (`pipeline.py:193`). */
  val metricColumns: Seq[String] = Seq("temperature", "humidity", "pressure")

  /** NA tokens normalized to null at read time — the pandas default NA
    * list the reference relies on (`pipeline.py:286`) plus the explicit
    * empty-string normalization (`pipeline.py:108-111`).
    */
  val naTokens: Seq[String] = Seq(
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")
}
