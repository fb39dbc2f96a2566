package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** EXACT-integer second-moment aggregate over a fixed-dimension vector
  * column. Each vector is quantized ONCE at the source
  * (`qxᵢ = ⌊xᵢ·10⁷⌋`, a floor of a
  * correctly-rounded product — identical in any IEEE engine) and the
  * state accumulates (n, Σqx, upper-triangle Σqx·qxᵀ) as EXACT
  * integers, so the merged result is independent of partitioning and
  * accumulation order — the property that lets a downstream consumer
  * (deterministic PCA, the DuckDB oracle) reproduce it bit-for-bit,
  * where float sums would carry last-ulp partition wobble.
  *
  * Scale shape: CONSTANT state (1 + d + d(d+1)/2 entries ≈ 2,145 at
  * d=64), map-side partial aggregation, associative merge — one pass,
  * no shuffle beyond the single state row. Product sums are 128-bit
  * (BigInt) so a trillion-row corpus cannot overflow; the hot path
  * accumulates into a per-entry Long with `Math.addExact` /
  * `Math.multiplyExact` and lazily spills into the BigInt total only
  * on overflow — BigInt cost is amortized to ~never at realistic
  * magnitudes.
  *
  * Output layout (array<decimal(38,0)>):
  * [n, S₀..S_{d−1}, P₀₀, P₀₁, …, P_{d−1,d−1} (upper triangle)].
  */
case class IntMomentsAgg(
    vec: Expression, dim: Int, scale: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IntMomentsAgg.State] {

  require(dim >= 1, s"dim must be positive: $dim")
  require(scale >= 1, s"scale must be positive: $scale")

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DecimalType(38, 0), containsNull = false)

  override def createAggregationBuffer(): IntMomentsAgg.State =
    new IntMomentsAgg.State(dim)

  override def update(
      buf: IntMomentsAgg.State, input: InternalRow): IntMomentsAgg.State = {
    val raw = vec.eval(input)
    if (raw == null) return buf
    val arr = raw.asInstanceOf[ArrayData]
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(
        s"int_moments(dim=$dim) got a vector of ${arr.numElements()} elements")
    val q = new Array[Long](dim)
    val isFloat = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    var i = 0
    while (i < dim) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      q(i) = math.floor(x * scale.toDouble).toLong
      i += 1
    }
    buf.add(q)
    buf
  }

  override def merge(
      buf: IntMomentsAgg.State,
      other: IntMomentsAgg.State): IntMomentsAgg.State = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: IntMomentsAgg.State): Any = {
    val out = buf.totals
    new GenericArrayData(out.map(b => Decimal(BigDecimal(b), 38, 0): Any))
  }

  override def serialize(buf: IntMomentsAgg.State): Array[Byte] = {
    val totals = buf.totals
    val bytes = new ByteArrayOutputStream(32 * totals.length)
    val out = new DataOutputStream(bytes)
    out.writeInt(totals.length)
    totals.foreach { b =>
      val ba = b.toByteArray
      out.writeInt(ba.length)
      out.write(ba)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): IntMomentsAgg.State = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val len = in.readInt()
    val st = new IntMomentsAgg.State(dim)
    val arr = new Array[BigInt](len)
    var i = 0
    while (i < len) {
      val ba = new Array[Byte](in.readInt())
      in.readFully(ba)
      arr(i) = BigInt(ba)
      i += 1
    }
    st.setTotals(arr)
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): IntMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): IntMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IntMomentsAgg =
    copy(vec = newChildren(0))
  override def prettyName: String = "graft_int_moments_agg"
}

object IntMomentsAgg {

  /** Mutable exact-integer moment state: a Long fast-path accumulator
    * per entry plus a BigInt spill total; `totals` folds both.
    */
  final class State(dim: Int) {
    private val triLen = dim * (dim + 1) / 2
    private val len = 1 + dim + triLen
    private val fast = new Array[Long](len)
    private var big: Array[BigInt] = null // lazily allocated on spill

    private def spill(idx: Int, value: Long): Unit = {
      if (big == null) big = Array.fill(len)(BigInt(0))
      big(idx) = big(idx) + BigInt(fast(idx)) + BigInt(value)
      fast(idx) = 0L
    }

    private def acc(idx: Int, value: Long): Unit =
      try fast(idx) = Math.addExact(fast(idx), value)
      catch { case _: ArithmeticException => spill(idx, value) }

    def add(q: Array[Long]): Unit = {
      acc(0, 1L)
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        acc(1 + i, q(i))
        var j = i
        while (j < dim) {
          try acc(t, Math.multiplyExact(q(i), q(j)))
          catch {
            case _: ArithmeticException => // product itself overflows
              if (big == null) big = Array.fill(len)(BigInt(0))
              big(t) = big(t) + BigInt(q(i)) * BigInt(q(j))
          }
          t += 1
          j += 1
        }
        i += 1
      }
    }

    def mergeFrom(other: State): Unit = {
      val ot = other.totals
      var i = 0
      while (i < ot.length) {
        if (ot(i) != 0) {
          if (big == null) big = Array.fill(len)(BigInt(0))
          big(i) = big(i) + ot(i)
        }
        i += 1
      }
    }

    def totals: Array[BigInt] =
      Array.tabulate(len) { i =>
        (if (big == null) BigInt(0) else big(i)) + BigInt(fast(i))
      }

    def setTotals(arr: Array[BigInt]): Unit = {
      require(arr.length == len, s"state length ${arr.length} != $len")
      big = arr.clone()
      java.util.Arrays.fill(fast, 0L)
    }
  }

  /** Aggregate Column over an `array<float|double>` column: exact
    * integer moments of the `⌊x·scale⌋`-quantized vectors. Layout:
    * [n, S(d), upper-triangle P(d(d+1)/2)] as decimal(38,0).
    */
  def intMoments(vec: Column, dim: Int, scale: Long): Column =
    column(IntMomentsAgg(expression(vec), dim, scale).toAggregateExpression())
}
