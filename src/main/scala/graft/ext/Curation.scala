package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] End-to-end curation disposition — the whole pretraining
  * intake decision as ONE composed Spark plan: every document gets
  * exactly one verdict, in gate order:
  *
  *   1. `rejected_quality`   — fails the Gopher rule bundle
  *      ([[TextStats.gopherRules]]);
  *   2. `rejected_duplicate` — a near-duplicate (MinHash-LSH pairs →
  *      connected components, [[Dedup.clusterPairs]]) that is NOT its
  *      cluster's min-id representative. The representative is min-id
  *      regardless of quality — the standard deterministic convention,
  *      so membership is re-derivable without the quality table;
  *   3. `train` / `val` / `test` — survivors split by the portable
  *      md5 hash gate ([[Sampling.splitAssign]]).
  *
  * This is the table a curation run writes next to its output shards:
  * the full audit trail of why every input document was kept or
  * dropped. Scale shape: nothing here is new — the gates compose the
  * operators' existing shuffle classes (projection-only rules,
  * banded minhash equi-joins + CC, a hash-gate projection), and the
  * verdict join is keyed on the doc id.
  */
object Curation {

  def disposition(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rules = TextStats.gopherRules(docs, idCol, textCol)
      .select(col(idCol), col("pass"))
    val pairs = Dedup.portableMinHashNearDuplicates(
      docs, idCol, textCol,
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val comp = Dedup.clusterPairs(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "__cid")
    val keyed = rules
      .join(comp, rules(idCol) === comp("__cid"), "left")
      .drop("__cid")
      .withColumn("is_canonical",
        coalesce(col("cluster_rep"), col(idCol).cast("long")) ===
          col(idCol).cast("long"))
      .drop("cluster_rep")
    // EAGER: both the pair frame (caller-owned persist from the
    // builder) and clusterPairs' labels are internal here — release
    // them once the disposition is materialized.
    Dedup.withCleanup(
      Sampling.splitAssign(keyed, idCol)
        .select(col(idCol), col("pass").as("quality_pass"), col("is_canonical"),
          when(!col("pass"), lit("rejected_quality"))
            .when(!col("is_canonical"), lit("rejected_duplicate"))
            .otherwise(col("split")).as("disposition")),
      Seq(comp, pairs))
  }

  /** Filter-gate ablation — the observability table a curation run
    * reads before re-tuning thresholds: for every named boolean gate
    * (true = pass), how many documents fail it AT ALL vs. fail it
    * ALONE (every other gate passing). Sole-failure is the gate's
    * MARGINAL cost — the documents it alone removes from the corpus —
    * which an any-failure count overstates wherever gates correlate
    * (a junk doc usually fails several).
    *
    * One aggregate pass regardless of gate count (each gate is two
    * conditional sums in the same agg — the [[graft.ops.Quality]]
    * rowChecks shape) + a constant-size explode; the input is scanned
    * once and never shuffled. Output: one row per gate
    * (gate, n_fail_any, n_fail_sole) plus the `__all__` row with
    * (n_docs, n_pass_all) folded into the same columns as
    * (total docs, docs passing every gate).
    */
  def gateAblation(
      flags: DataFrame, gateCols: Seq[String]): DataFrame = {
    require(gateCols.nonEmpty, "at least one gate column")
    def othersPass(g: String) =
      gateCols.filter(_ != g).map(col).foldLeft(lit(true))(_ && _)
    val aggs = gateCols.zipWithIndex.flatMap { case (g, i) =>
      Seq(
        sum(when(!col(g), 1L).otherwise(0L)).as(s"__a$i"),
        sum(when(!col(g) && othersPass(g), 1L).otherwise(0L)).as(s"__s$i"))
    } ++ Seq(
      count(lit(1)).as("__n"),
      sum(when(gateCols.map(col).reduce(_ && _), 1L).otherwise(0L))
        .as("__p"))
    val rows = gateCols.zipWithIndex.map { case (g, i) =>
      struct(lit(g).as("gate"), col(s"__a$i").as("n_fail_any"),
        col(s"__s$i").as("n_fail_sole"))
    } :+ struct(lit("__all__").as("gate"), col("__n").as("n_fail_any"),
      col("__p").as("n_fail_sole"))
    flags.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.*"))
  }
}
