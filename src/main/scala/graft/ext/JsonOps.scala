package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** [EXT] JSON property extraction over string columns (`events.props`).
  * `get_json_object` is a codegen'd Catalyst expression — no UDF, no
  * row-level JSON library calls in the hot path.
  */
object JsonOps {

  def extractLong(json: Column, path: String): Column =
    get_json_object(json, path).cast("long")
}
