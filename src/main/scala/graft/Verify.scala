package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/exact_check.py`).
  * Every selected query runs even when one fails; the exit status is 1
  * when any did. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.localSession()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated keys); the driver leaves
    // it unset and always dumps the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      // Progress marker BEFORE the run: correlates any Spark warning in
      // the log with the query that emitted it.
      System.err.println(s"[verify] running $name")
      // A query that fails must leave no result behind: an earlier
      // dump's directory would be compared as if this run produced it.
      FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      val ok =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // Eager queries (LSH families, cluster collapse) persist
      // intermediates; don't let the inventory's caches accumulate.
      spark.catalog.clearCache()
      if (ok) None else Some(name)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${jsonEscape(k)}: ${jsonEscape(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
