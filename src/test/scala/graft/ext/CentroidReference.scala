package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** The `least(struct)` form of the k-means assignment: the reference
  * `EmbeddingsSpec` checks [[graft.functions.NearestCentroidQ]] against,
  * term for term the oracle's quantized-distance SQL.
  */
object CentroidReference {

  /** 10⁶-quantized squared-L2 distance to a literal centroid:
    * ⌊(|v|² − 2·v·c + |c|²)·10⁶⌋ as LONG. The inner dot products are
    * [[VectorExprs.dot]], bit-identical to DuckDB's
    * `list_inner_product`.
    */
  private def quantizedDist(vecCol: Column, c: Array[Double]): Column = {
    val c2 = c.map(x => x * x).sum
    floor((VectorExprs.dot(vecCol, vecCol)
      - VectorExprs.dot(vecCol, array(c.map(lit): _*)) * 2.0 + lit(c2))
      * lit(1e6)).cast("long")
  }

  /** Nearest-centroid id by QUANTIZED distance (see [[quantizedDist]]),
    * ties to the lower id.
    */
  def nearestCentroidQuantized(
      vecCol: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cands = centroids.zipWithIndex.map { case (c, j) =>
      struct(quantizedDist(vecCol, c).as("d"), lit(j).as("j"))
    }
    (if (cands.length == 1) cands.head else least(cands: _*)).getField("j")
  }
}
