package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BitExprs

/** [EXT] Z-ordered lake layout: the Morton key ([[zKey]]) a writer
  * clusters a table on, so per-file (and per-row-group) min/max
  * statistics prune scans filtered on EITHER dimension, and the zone
  * map ([[zoneMap]]) that shows the payoff per Morton cell.
  *
  * A linear sort by (a, b) packs files by `a` only — a `b = ?` filter
  * still opens every file. Range-partitioning + sorting by
  * `zKey(a, b)` bounds both dimensions inside each file, so parquet
  * footer stats skip most files for either predicate. At 100 TB the
  * difference is reading 1% vs 100% of the files for the non-leading
  * dimension.
  *
  * Dims are masked to `bits` bits by the interleave; for columns wider
  * or more skewed than 2^bits, reduce them FIRST (width_bucket over the
  * value range, or a percentile rank) so the curve cells stay evenly
  * filled — wrapped raw values would alias distant rows into the same
  * cell and break locality.
  */
object ZOrderedLake {

  /** The clustering key: the Morton interleave of the two (already
    * bucket-reduced, see object doc) dimension columns.
    */
  def zKey(a: Column, b: Column, bits: Int = 16): Column =
    BitExprs.zOrder2(a, b, bits)

  /** Zone-map (data-skipping index) over the Z-curve: per Morton cell
    * — the top `zoneBits` bits of the z-key, i.e. a quad-tree level —
    * the row count and min/max bounds of BOTH dimensions. This is the
    * stats table a scan planner probes to prune cells for a predicate
    * on either dimension, and the direct way to SEE the z-order
    * payoff: under z-clustering every cell's (min,max) boxes are
    * tight; under linear sort the non-leading dimension's boxes span
    * the whole domain (zero skipping).
    *
    * Scale shape: one map-side-combinable aggregate keyed on the cell
    * id (≤ 2^zoneBits keys). Build it per partition/file batch and
    * union: min/max/count are mergeable, so the index maintains
    * incrementally like [[graft.ops.Aggregate.mergeAggStates]].
    */
  def zoneMap(
      df: DataFrame, dimA: String, dimB: String,
      bits: Int = 16, zoneBits: Int = 12): DataFrame = {
    require(zoneBits >= 1 && zoneBits <= 2 * bits,
      s"zoneBits in [1, ${2 * bits}]: $zoneBits")
    df
      .withColumn("__z", zKey(col(dimA), col(dimB), bits))
      .select(
        shiftright(col("__z"), 2 * bits - zoneBits).as("zone"),
        col(dimA), col(dimB))
      .groupBy(col("zone"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(dimA)).as(s"${dimA}_min"),
        max(col(dimA)).as(s"${dimA}_max"),
        min(col(dimB)).as(s"${dimB}_min"),
        max(col(dimB)).as(s"${dimB}_max"))
  }
}
