package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** S1/P3/P6: string-first scan, NA-token normalization, validate-then-cast.
  *
  * The reference reads every CSV column as a string (`dtype=str`,
  * `pipeline.py:286`) so validation can tell "unparsable" from "missing",
  * normalizes a 17-token NA list plus empty strings to null
  * (`pipeline.py:286`, `pipeline.py:108-111`), and bulk-casts only after
  * validation (`pipeline.py:170-179`). All three steps are plain Column
  * expressions here — they stay inside whole-stage codegen and Catalyst
  * still pushes the downstream filters into the scan.
  *
  * The cast is defined once, in [[parsers]]. The ingest path parses each
  * field through it exactly once: `Validate.withValidation` keeps the
  * parsed value next to the raw string, `Ingest` caches that batch as
  * rows (uncompressed `UnsafeRow`s that spill through `MEMORY_AND_DISK`,
  * a batch bounded by `maxFilesPerTrigger`), and the commit reads the
  * parsed columns back instead of parsing again.
  */
object Cleanse {

  /** Timestamp formats evidenced in the reference's data: the normalized
    * `yyyy-MM-dd HH:mm:ss` (`preprocessing_kaggle_dataset.py:40`) and the
    * raw Kaggle ISO-with-offset form. `pd.to_datetime` is lenient
    * (`pipeline.py:124`); we approximate with a coalesce over the
    * evidenced formats, nulling (never throwing) on failure.
    */
  val timestampFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd HH:mm:ss.SSS XX",
    "yyyy-MM-dd")

  /** Null out pandas-style NA tokens (after trimming). TRY-semantics:
    * anything not a token passes through unchanged.
    */
  def naNormalize(c: Column): Column =
    when(trim(c).isin(Schemas.naTokens: _*), lit(null)).otherwise(c)

  /** TRY_CAST string→timestamp over the evidenced formats. */
  def tryTimestamp(c: Column): Column =
    coalesce(timestampFormats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** TRY_CAST string→double: null on garbage, never an exception. */
  def tryDouble(c: Column): Column = c.cast("double")

  /** Each typed sensor field and its TRY parser: the one definition of
    * the post-validation cast.
    */
  val parsers: Seq[(String, Column => Column)] = Seq(
    "timestamp" -> (tryTimestamp _), "temperature" -> (tryDouble _),
    "humidity" -> (tryDouble _), "pressure" -> (tryDouble _))
}
