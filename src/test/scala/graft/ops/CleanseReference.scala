package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Specs' reference form of the post-validation cast: every typed
  * field re-parsed in place from its string through [[Cleanse.parsers]]
  * (`pipeline.py:170-179`), with null-on-failure semantics. The ingest
  * path parses each field once and reads the parsed columns back
  * ([[Validate.typedColumns]]); specs check it against this.
  */
object CleanseReference {
  def castTyped(df: DataFrame): DataFrame =
    Cleanse.parsers.foldLeft(df) { case (d, (c, parse)) =>
      d.withColumn(c, parse(col(c)))
    }
}
