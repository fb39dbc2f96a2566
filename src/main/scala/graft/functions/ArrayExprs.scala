package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** |a ∩ b| over two string arrays, without materializing the
  * intersection.
  */
object ArrayIntersectOps {
  /** |a ∩ b|, set semantics, null elements ignored.
    *
    * Why a kernel: `size(array_intersect(a, b))` builds the intersected
    * array per pair only to count it, and on a Jaccard pair scan the
    * expression appears in both the similarity and the threshold
    * filter — Catalyst duplicates it after predicate pushdown, so the
    * intersection was computed (and allocated) twice per pair. This is
    * a single hash-set probe, O(|a|+|b|), no allocation beyond the set.
    * Duplicate elements count once (inputs are expected to be distinct
    * token/shingle sets).
    */
  def hashIntersectSize(aa: ArrayData, bb: ArrayData): Int = {
    val (small, big) =
      if (aa.numElements() <= bb.numElements()) (aa, bb) else (bb, aa)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) {
      if (!small.isNullAt(i)) set.add(small.getUTF8String(i))
      i += 1
    }
    var n = 0
    var j = 0
    while (j < big.numElements()) {
      if (!big.isNullAt(j) && set.remove(big.getUTF8String(j))) n += 1
      j += 1
    }
    n
  }

  /** |a ∩ b| for two string arrays that are ALREADY sorted ascending
    * and distinct: a single merge walk, no hash set, no per-pair
    * allocation. On a pair scan the per-row sort happens once per
    * document (in the projection feeding the join), while the merge
    * runs per pair — the right place to spend the work. Results are
    * undefined if inputs are unsorted (callers own the contract).
    */
  def sortedIntersectSize(aa: ArrayData, bb: ArrayData): Int = {
    val (na, nb) = (aa.numElements(), bb.numElements())
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val c = aa.getUTF8String(i).compareTo(bb.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }
}

object ArrayExprs {
  import org.apache.spark.sql.GraftExpressionBridge.kernel

  private val stringArrays = Seq.fill(2)(ArrayType(StringType))

  /** `intersect_size(a, b)` as a Column. */
  def intersectSize(a: Column, b: Column): Column =
    kernel("intersectsize", "graft.functions.ArrayIntersectOps.hashIntersectSize",
      IntegerType, stringArrays, Seq(a, b))

  /** `sorted_intersect_size(a, b)` — inputs must be sorted + distinct. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    kernel("sortedintersectsize",
      "graft.functions.ArrayIntersectOps.sortedIntersectSize",
      IntegerType, stringArrays, Seq(a, b))
}
