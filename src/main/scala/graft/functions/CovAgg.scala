package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mergeable second-moment aggregate over a fixed-dimension vector
  * column: one pass accumulates (n, Σv, upper-triangle ΣvvT) with
  * CONSTANT state (1 + d + d(d+1)/2 doubles ≈ 17 KB at d=64) that
  * partial-aggregates map-side and merges associatively — the only
  * covariance shape that survives a billion-vector corpus. The driver
  * receives ONE state vector, never the data; mean/covariance/PCA are
  * cheap d×d math on top ([[graft.ext.Embeddings]]).
  *
  * Accumulation order varies with partitioning (floating-point sums),
  * so downstream consumers must treat last-ulp wobble as expected —
  * the same contract as every float SUM in the inventory.
  */
case class CovAgg(
    vec: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  require(dim >= 1, s"dim must be positive: $dim")

  private val triLen = dim * (dim + 1) / 2
  private val stateLen = 1 + dim + triLen

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](stateLen)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val raw = vec.eval(input)
    if (raw == null) return buf
    val arr = raw.asInstanceOf[ArrayData]
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(
        s"cov_agg(dim=$dim) got a vector of ${arr.numElements()} elements")
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = vec.dataType match {
        case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
        case _ => arr.getDouble(i)
      }
      i += 1
    }
    buf(0) += 1.0
    i = 0
    var t = 1 + dim
    while (i < dim) {
      buf(1 + i) += v(i)
      var j = i
      while (j < dim) {
        buf(t) += v(i) * v(j)
        t += 1
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < stateLen) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any =
    new GenericArrayData(buf.map(d => d: Any))

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(8 * stateLen)
    val out = new DataOutputStream(bytes)
    var i = 0
    while (i < stateLen) { out.writeDouble(buf(i)); i += 1 }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val buf = new Array[Double](stateLen)
    var i = 0
    while (i < stateLen) { buf(i) = in.readDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CovAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CovAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CovAgg =
    copy(vec = newChildren(0))
  override def prettyName: String = "graft_cov_agg"
}

object CovAgg {
  /** Aggregate Column over an `array<float>`/`array<double>` column of
    * fixed dimension `dim`. Result layout: [n, mean-sums(d),
    * upper-triangle product-sums(d(d+1)/2)].
    */
  def covState(vec: Column, dim: Int): Column =
    column(CovAgg(expression(vec), dim).toAggregateExpression())
}
