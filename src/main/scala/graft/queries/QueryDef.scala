package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One inventory query: its Spark build over a data dir and the DuckDB
  * SQL that must reproduce its rows bit for bit. A parameter both sides
  * share is one `val` in the query's family, so the two cannot drift.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QueryDef {

  /** The definitions keyed by name. A name defined twice is refused:
    * a `Map` built from the pairs would silently keep the last one.
    */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty,
      s"query defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
