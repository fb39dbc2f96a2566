package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{PipelineConf, ValueRange}
import graft.schema.Schemas

/** V1–V5 / F1–F4: row validation, error-string synthesis, strict per-file
  * verdicts and group-gated routing.
  *
  * The reference validates row-by-row in an interpreted loop
  * (`pipeline.py:113-159`), accumulating error strings per row, and in
  * strict mode aborts the whole file on the first failing row
  * (`pipeline.py:161-165`). Here validation is a single vectorized pass
  * of Column expressions — one `when`-chain per field — so all five
  * predicates run inside whole-stage codegen in one scan; the per-file
  * verdict is one aggregation over the same pass, not a second read, and
  * the error string is built only for each file's first invalid row.
  * Each field is parsed once: `withValidation` keeps the parsed value,
  * and `is_valid` and the typed commit rows ([[typedColumns]]) both read
  * it.
  *
  * Error strings reproduce the reference byte-for-byte (format evidence:
  * `quarantine/quarantine_log.txt:2-5`, code `pipeline.py:114-166`).
  */
object Validate {

  /** `'sensor_id' is null.` (`pipeline.py:117`) */
  def keyError(field: String, raw: Column): Column =
    when(raw.isNull, lit(s"'$field' is null."))

  /** Timestamp check (`pipeline.py:120-126`): null/empty vs unparsable. */
  def timestampError(field: String, raw: Column): Column =
    when(raw.isNull, lit(s"'$field' string is null/empty."))
      .when(Cleanse.tryTimestamp(raw).isNull,
        concat(lit(s"'$field' ('"), raw, lit("') is unparsable.")))

  /** Numeric check (`pipeline.py:129-159`): null vs non-numeric vs
    * out-of-range, in that order. The out-of-range message renders the
    * PARSED value (reference prints `float(raw)`, not the raw string).
    */
  def numericError(field: String, raw: Column, range: ValueRange): Column = {
    val parsed = Cleanse.tryDouble(raw)
    when(raw.isNull, lit(s"'$field' is null."))
      .when(parsed.isNull,
        concat(lit(s"'$field' ('"), raw, lit("') is not a valid number.")))
      .when(!parsed.between(range.lo, range.hi),
        concat(lit(s"'$field' ("), parsed.cast("string"),
          lit(s") out of range [${range.lo}, ${range.hi}].")))
  }

  /** The numeric fields in reference order with their configured ranges. */
  private def ranges(conf: PipelineConf): Seq[(String, ValueRange)] = Seq(
    "temperature" -> conf.tempRange, "humidity" -> conf.humidityRange,
    "pressure" -> conf.pressureRange)

  /** All five field checks in reference order (`pipeline.py:114-159`),
    * each null when its field is valid.
    */
  def fieldErrors(conf: PipelineConf): Seq[Column] =
    Seq(keyError("sensor_id", col("sensor_id")),
      timestampError("timestamp", col("timestamp"))) ++
      ranges(conf).map { case (f, r) => numericError(f, col(f), r) }

  /** `"; "`-joined row error string, each error prefixed `Row {n}: `;
    * null when the row is valid. `rowNum` is the CSV line, header = 1
    * (the reference's `index+2`, `pipeline.py:117`).
    */
  def rowErrors(conf: PipelineConf, rowNum: Column): Column = {
    val prefix = concat(lit("Row "), rowNum, lit(": "))
    val arr = array_compact(array(fieldErrors(conf).map(concat(prefix, _)): _*))
    when(size(arr) > 0, array_join(arr, "; "))
  }

  /** The column holding `field`'s parsed value after [[withValidation]]. */
  private def parsedName(field: String): String = s"__$field"

  /** Parses an all-string sensor frame once and adds `is_valid` (F1: no
    * field check failed).
    *
    * Each field of `Cleanse.parsers` is parsed once into its [[parsedName]]
    * column; the raw strings stay, because the reasons quote them.
    * `is_valid` is decided from the parsed values with exactly
    * `fieldErrors`' semantics: a key that is not null, a timestamp that
    * parses, and each metric parsed and within its inclusive range. No
    * message is built per row: `strictVerdicts` renders the first invalid
    * row's errors once per group, from the raw strings. `Ingest` caches
    * this frame as uncompressed rows that spill through `MEMORY_AND_DISK`
    * (a batch is bounded by `maxFilesPerTrigger`), so the verdict and the
    * commit read the parsed values instead of parsing again.
    */
  def withValidation(df: DataFrame, conf: PipelineConf): DataFrame = {
    val withParsed = Cleanse.parsers.foldLeft(df) { case (d, (c, parse)) =>
      d.withColumn(parsedName(c), parse(col(c)))
    }
    val inRange = ranges(conf).map { case (f, r) =>
      val v = col(parsedName(f))
      v.isNotNull && v.between(r.lo, r.hi)
    }
    withParsed.withColumn("is_valid",
      (col("sensor_id").isNotNull +: col(parsedName("timestamp")).isNotNull +:
        inRange).reduce(_ && _))
  }

  /** The typed sensor row over a [[withValidation]] frame, in canonical
    * column order: each parsed field read from its [[parsedName]] column,
    * `sensor_id` as it is. Equal to re-parsing the raw strings through
    * [[Cleanse.parsers]], without parsing them again.
    */
  def typedColumns: Seq[Column] = Schemas.sensorColumns.map(c =>
    if (Cleanse.parsers.exists(_._1 == c)) col(parsedName(c)).as(c) else col(c))

  /** F3: strict per-group verdict over a frame carrying `is_valid`. One
    * row per group: row/invalid counts, `first_bad_row`, the reference's
    * reason `"Validation failed at row {N}: {errors}"` (`pipeline.py:164`)
    * and the clean flag.
    *
    * One aggregation keyed on `groupCol`: the group's first invalid
    * row in `ord` order rides it whole (`min_by`), so the reason is built
    * once per group, over that row's own columns. There `line(ord,
    * least ord of the group)` gives its CSV line N and `errors(N)` its
    * error string.
    */
  def strictVerdicts(
      validated: DataFrame, groupCol: String, ord: Column,
      line: (Column, Column) => Column, errors: Column => Column): DataFrame = {
    val bad = when(!col("is_valid"), ord)
    val fields = validated.columns.filter(_ != groupCol).map(col)
    val n = col("first_bad_row")
    validated
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(!col("is_valid"), lit(1))).as("n_invalid"),
        min(ord).as("__least"),
        min_by(struct(fields: _*), bad).as("__bad"))
      .select(col(groupCol), col("n_rows"), col("n_invalid"), col("__least"),
        col("__bad.*"))
      .withColumn("first_bad_row", line(ord, col("__least")))
      .select(col(groupCol), col("n_rows"), col("n_invalid"), n,
        concat(lit("Validation failed at row "), n, lit(": "), errors(n))
          .as("first_error"),
        (col("n_invalid") === 0).as("is_clean"))
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
