package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] Stats-driven join planning — the "measure, don't guess" rule
  * applied to the single most expensive decision a 100 TB pipeline
  * makes. Catalyst already broadcasts when its SIZE estimate clears
  * `autoBroadcastJoinThreshold` and AQE can split skewed partitions at
  * runtime, but both reason from byte statistics; this planner reasons
  * from KEY statistics (per-key row counts — the thing that actually
  * explodes a join) collected with one bounded aggregate per side, and
  * returns the DECISION TABLE (auditable, oracle-checkable integers)
  * for the caller to act on.
  *
  * Decision rule, in order:
  *  1. build side has ≤ `broadcastMaxRows` rows → `broadcast`
  *     (hash join, zero shuffle of the probe side);
  *  2. probe-side max key count ≥ `skewRatio` × the mean → `salted`
  *     ([[SkewJoin.saltedJoin]]: hot keys spread over `salts` tasks);
  *  3. otherwise → `shuffle` (plain key-partitioned join, AQE free to
  *     refine).
  *
  * The stats pass costs two map-side-combinable aggregates whose
  * output is bounded by distinct-key counts — negligible next to a
  * mis-planned 100 TB join, and the same pass a human would run by
  * hand before tuning ([[graft.ext.Analytics.keySkewProfile]] /
  * [[graft.ext.Analytics.joinCardinality]] are the exploratory forms;
  * this one acts on the answer).
  */
object JoinPlanner {

  /** The decision as a ONE-ROW DataFrame — fully declarative (two
    * bounded aggregates + a CASE on exact integers), so the decision
    * itself is oracle-checkable and can be logged/audited like any
    * other query result.
    */
  def planReport(
      probe: DataFrame, build: DataFrame, keys: Seq[String],
      broadcastMaxRows: Long = 1000000L,
      skewRatio: Long = 16L): DataFrame = {
    require(keys.nonEmpty, "at least one join key")
    val b = build.agg(count(lit(1)).as("build_rows"))
    val p = probe
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("probe_rows"),
        count(lit(1)).as("probe_keys"),
        max(col("__c")).as("probe_max_key_rows"))
    b.crossJoin(p)
      .withColumn("strategy",
        when(col("build_rows") <= broadcastMaxRows, lit("broadcast"))
          // max ≥ ratio·mean in exact integers: max·keys ≥ ratio·rows
          .when(col("probe_max_key_rows") * col("probe_keys") >=
            lit(skewRatio) * col("probe_rows"), lit("salted"))
          .otherwise(lit("shuffle")))
  }
}
