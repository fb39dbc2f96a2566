package graft.functions

import org.apache.spark.sql.types.LongType

/** Z-order (Morton) curve key over two integral columns — the
  * multi-dimensional clustering key for data-skipping layouts.
  *
  * Sorting (or range-partitioning) a table by `zOrder2(a, b)` keeps
  * rows close in BOTH dimensions close in file order, so per-file
  * min/max statistics prune scans filtered on either column — the
  * layout trick behind Delta/Iceberg Z-ordering, usable here with
  * plain `df.sortWithinPartitions(zval)` before a parquet write.
  * A plain sort by (a, b) clusters only the leading column; at 100 TB
  * the difference is whether a `b = ?` filter reads 1% or 100% of the
  * files.
  */
object ZOrderOps {
  /** Interleave the low `bits` bits of x (even positions) and y (odd
    * positions). Inputs are masked to `bits`, so callers don't have to
    * pre-clamp.
    */
  def interleave2(x: Long, y: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1L
    val xm = x & mask
    val ym = y & mask
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((xm >>> i) & 1L) << (2 * i)
      z |= ((ym >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

object BitExprs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftExpressionBridge.{integralInput, kernel}

  /** Any integral inputs; they widen to long. */
  def zOrder2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32]: $bits")
    kernel("zorder2", "graft.functions.ZOrderOps.interleave2", LongType,
      Seq(integralInput, integralInput), Seq(x, y), bits)
  }
}
