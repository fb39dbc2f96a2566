package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{PipelineConf, ValueRange}

/** V1–V5 / F1–F4: row validation, error-string synthesis, strict per-file
  * verdicts and group-gated routing.
  *
  * The reference validates row-by-row in an interpreted loop
  * (`pipeline.py:113-159`), accumulating error strings per row, and in
  * strict mode aborts the whole file on the first failing row
  * (`pipeline.py:161-165`). Here validation is a single vectorized pass
  * of Column expressions — one `when`-chain per field — so all five
  * predicates run inside whole-stage codegen in one scan; the per-file
  * verdict is a hash aggregation over the same pass, not a second read.
  *
  * Error strings reproduce the reference byte-for-byte (format evidence:
  * `quarantine/quarantine_log.txt:2-5`, code `pipeline.py:114-166`).
  */
object Validate {

  /** `Row {n}: 'sensor_id' is null.` (`pipeline.py:117`) */
  def keyError(field: String, raw: Column, rowNum: Column): Column =
    when(raw.isNull,
      concat(lit(s"Row "), rowNum, lit(s": '$field' is null.")))

  /** Timestamp check (`pipeline.py:120-126`): null/empty vs unparsable. */
  def timestampError(field: String, raw: Column, rowNum: Column): Column =
    when(raw.isNull,
      concat(lit("Row "), rowNum, lit(s": '$field' string is null/empty.")))
      .when(Cleanse.tryTimestamp(raw).isNull,
        concat(lit("Row "), rowNum,
          lit(s": '$field' ('"), raw, lit("') is unparsable.")))

  /** Numeric check (`pipeline.py:129-159`): null vs non-numeric vs
    * out-of-range, in that order. The out-of-range message renders the
    * PARSED value (reference prints `float(raw)`, not the raw string).
    */
  def numericError(
      field: String, raw: Column, range: ValueRange, rowNum: Column): Column = {
    val parsed = Cleanse.tryDouble(raw)
    when(raw.isNull,
      concat(lit("Row "), rowNum, lit(s": '$field' is null.")))
      .when(parsed.isNull,
        concat(lit("Row "), rowNum,
          lit(s": '$field' ('"), raw, lit("') is not a valid number.")))
      .when(!parsed.between(range.lo, range.hi),
        concat(lit("Row "), rowNum, lit(s": '$field' ("),
          parsed.cast("string"),
          lit(s") out of range [${range.lo}, ${range.hi}].")))
  }

  /** All five field checks in reference order (`pipeline.py:114-159`). */
  def fieldErrors(conf: PipelineConf, rowNum: Column): Seq[Column] = Seq(
    keyError("sensor_id", col("sensor_id"), rowNum),
    timestampError("timestamp", col("timestamp"), rowNum),
    numericError("temperature", col("temperature"), conf.tempRange, rowNum),
    numericError("humidity", col("humidity"), conf.humidityRange, rowNum),
    numericError("pressure", col("pressure"), conf.pressureRange, rowNum))

  /** `"; "`-joined row error string, null when the row is valid. */
  def rowErrors(conf: PipelineConf, rowNum: Column): Column = {
    val arr = array_compact(array(fieldErrors(conf, rowNum): _*))
    when(size(arr) > 0, array_join(arr, "; "))
  }

  /** Adds `row_errors` and `is_valid` (F1: no field check failed) to an
    * all-string sensor frame that already carries a deterministic
    * 1-based data row number in `rowNumCol` (CSV line = rowNum + 1,
    * header is line 1 — the reference's `index+2`, `pipeline.py:117`).
    */
  def withValidation(
      df: DataFrame, conf: PipelineConf, rowNumCol: String): DataFrame = {
    val lineNo = col(rowNumCol) + lit(1) // CSV line number incl. header
    df.withColumn("row_errors", rowErrors(conf, lineNo))
      .withColumn("is_valid", col("row_errors").isNull)
  }

  /** F3: strict per-file verdict. One row per file: row/invalid counts,
    * clean flag, and the reference's first-error reason string
    * `"Validation failed at row {N}: {errors}"` (`pipeline.py:164`).
    * Runs as a single hash aggregation keyed on the file column.
    *
    * `rowNumCol` must be the same column `withValidation` was given —
    * it was previously hardcoded to "row_num" while the producer was
    * parameterized, an implicit contract that broke (or silently
    * misnumbered first_error) for any other column name.
    */
  def strictVerdicts(
      validated: DataFrame, fileCol: String,
      rowNumCol: String = "row_num"): DataFrame = {
    val lineNo = col(rowNumCol) + lit(1)
    validated
      .groupBy(col(fileCol))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(!col("is_valid"), lit(1))).as("n_invalid"),
        min(when(!col("is_valid"), lineNo)).as("first_bad_row"),
        min_by(
          concat(lit("Validation failed at row "), lineNo, lit(": "),
            col("row_errors")),
          when(!col("is_valid"), lineNo)).as("first_error"))
      .withColumn("is_clean", col("n_invalid") === 0)
  }

  /** F4: group-gated routing — keep only rows whose whole file (group)
    * validated clean. A windowed max over the file key avoids a second
    * scan; equivalently a left-anti join against dirty keys (used when
    * the verdict frame already exists).
    */
  def routeValidGroups(validated: DataFrame, fileCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(fileCols.map(col): _*)
    validated
      .withColumn("__any_invalid",
        max(when(col("is_valid"), lit(0)).otherwise(lit(1))).over(w))
      .filter(col("__any_invalid") === 0)
      .drop("__any_invalid")
  }

  /** F5: `dropna(subset, how='any')` (`preprocessing_kaggle_dataset.py:46`). */
  def dropNaAny(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("any", cols)
}
