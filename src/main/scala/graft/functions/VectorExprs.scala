package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dense-vector dot product over `array<float>` /
  * `array<double>` columns.
  *
  * Why a custom Catalyst Expression: the composable alternative —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is a higher-order
  * function, which Spark evaluates interpreted, allocating per element;
  * on an ANN/near-dup pair scan that is the entire hot loop (measured
  * ~50× slower at 500×200 pairs × 64 dims). Both eval paths call the
  * tight loop [[VectorOps.dot]], inside whole-stage codegen. It stays a
  * class (not a bound kernel) because it reads elements by their type,
  * which is known only after analysis.
  *
  * Semantics: elements are widened to double and accumulated
  * left-to-right (`acc += (double)a[i] * (double)b[i]`) — bit-identical
  * to DuckDB's `list_inner_product(CAST(a AS DOUBLE[]), ...)`, which the
  * correctness oracles rely on. Arrays of unequal length use the common
  * prefix; null elements are treated as 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product needs array<float|double> inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => "graft.functions.VectorOps.dot(" +
      s"$a, ${isFloat(left)}, $b, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd nearest-centroid-by-quantized-distance over an
  * `array<float|double>` column, against a FIXED centroid matrix that
  * rides inside the expression (driver-collected; k·dim doubles —
  * ~400 KB at k≈800, dim=64 — shipped once per task binary).
  *
  * Why a custom Expression and not `least(struct(d_j, j)...)` (the
  * form the k-means spec checks it against): that expression tree grows
  * ~130 nodes PER CENTROID, so a corpus-sized k (hundreds — see
  * `Dedup.semDeDupK`) blows past the JVM's 64 KB
  * method limit, kicks the whole stage out of codegen, and evaluates
  * k·dim interpreted allocations per row. This is one call of
  * [[VectorOps.nearestCentroid]] regardless of k. It stays a class
  * (not a bound kernel) because it carries the centroid matrix, which
  * PlanAudit counts by this class's name.
  *
  * Semantics — BIT-IDENTICAL to the `least(struct)` form and to the
  * DuckDB oracle's `ROW_NUMBER() OVER (ORDER BY qd ASC, cid ASC)`:
  * per centroid j, qd_j = (long)⌊(v·v − v·c_j·2.0 + c_j·c_j)·10⁶⌋
  * with every dot product accumulated left-to-right in double
  * ([[DotProduct]] discipline; c_j·c_j precomputed the same way);
  * result is the lowest j among the minimal qd_j. Null elements are
  * 0; v·c_j runs over the common prefix of the vector and `dim`.
  */
case class NearestCentroidQ(
    child: Expression, centroids: IndexedSeq[IndexedSeq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(centroids.nonEmpty, "need at least one centroid")
  require(centroids.forall(_.length == centroids.head.length),
    "ragged centroid matrix")

  private def dim: Int = centroids.head.length
  private def k: Int = centroids.length

  // flat row-major copy + left-to-right self-dots, computed once at
  // construction and shared by both eval paths
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](k * dim)
    var j = 0
    while (j < k) {
      var i = 0
      while (i < dim) { a(j * dim + i) = centroids(j)(i); i += 1 }
      j += 1
    }
    a
  }
  @transient private lazy val selfDots: Array[Double] =
    Array.tabulate(k) { j =>
      var s = 0.0
      var i = 0
      while (i < dim) { val x = centroids(j)(i); s += x * x; i += 1 }
      s
    }

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid_q needs array<float|double>, got ${t.simpleString}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    VectorOps.nearestCentroid(arr, isFloat, flat, selfDots, dim,
      new Array[Double](arr.numElements()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
      val ccRef = ctx.addReferenceObj("centroidSelfDots", selfDots, "double[]")
      // per-task scratch buffer, grown on demand. Mutable state is
      // safe: one operator instance per task thread.
      val buf = ctx.addMutableState("double[]", "ncqBuf",
        name => s"$name = new double[64];")
      s"""
         |if ($buf.length < $v.numElements()) $buf = new double[$v.numElements()];
         |${ev.value} = graft.functions.VectorOps.nearestCentroid(
         |  $v, $isFloat, $flatRef, $ccRef, $dim, $buf);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidQ = copy(child = newChild)
}

/** The dense-vector kernels [[DotProduct]] and [[NearestCentroidQ]]
  * call from both interpreted eval and their generated code.
  */
object VectorOps {
  /** Σ a[i]·b[i] over the common prefix, each element widened to double
    * and accumulated left-to-right; null elements are 0.
    */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0
        else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0
        else if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** The lowest j minimizing ⌊(v·v − v·c_j·2.0 + c_j·c_j)·10⁶⌋ over the
    * row-major `flat` centroids of width `dim`, with `selfDots(j)` =
    * c_j·c_j. `buf` holds at least `v.numElements()` doubles: the
    * vector is copied into it ONCE, because the centroid loop reads
    * each element k times and ArrayData accessors (null check +
    * virtual get) are the dominant cost at corpus-sized k — the flat
    * copy turns the inner loop into pure array arithmetic,
    * bit-identically.
    */
  def nearestCentroid(v: ArrayData, isFloat: Boolean, flat: Array[Double],
      selfDots: Array[Double], dim: Int, buf: Array[Double]): Int = {
    val n = v.numElements()
    var xx = 0.0
    var i = 0
    while (i < n) {
      val x =
        if (v.isNullAt(i)) 0.0
        else if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      buf(i) = x
      xx += x * x
      i += 1
    }
    val m = math.min(n, dim)
    var best = Long.MaxValue
    var bestJ = 0
    var j = 0
    while (j < selfDots.length) {
      var xc = 0.0
      i = 0
      while (i < m) { xc += buf(i) * flat(j * dim + i); i += 1 }
      val q = math.floor((xx - xc * 2.0 + selfDots(j)) * 1e6).toLong
      if (q < best) { best = q; bestJ = j }
      j += 1
    }
    bestJ
  }
}

object VectorExprs {
  import org.apache.spark.sql.GraftExpressionBridge._

  /** `dot_product(a, b)` as a Column (classic-mode Expression bridge —
    * Spark 4's unified Column API no longer exposes `.expr`).
    */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Nearest-centroid id (Int) by quantized distance against a fixed
    * centroid matrix — see [[NearestCentroidQ]].
    */
  def nearestCentroidQ(vec: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroidQ(
      expression(vec), centroids.map(_.toIndexedSeq).toIndexedSeq))
}
