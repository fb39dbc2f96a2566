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
  * ~50× slower at 500×200 pairs × 64 dims). This expression compiles to
  * a tight primitive `for` loop inside whole-stage codegen.
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

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(aa.numElements(), bb.numElements())
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aa.isNullAt(i)) 0.0
        else if (lf) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (bb.isNullAt(i)) 0.0
        else if (rf) bb.getFloat(i).toDouble else bb.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression) =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = $a.isNullAt($i) ? 0.0 : ${get(a, left)};
         |  double y = $b.isNullAt($i) ? 0.0 : ${get(b, right)};
         |  $acc += x * y;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

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
  * [[graft.ext.Embeddings.nearestCentroidQuantized]] form): that
  * expression tree grows ~130 nodes PER CENTROID, so a corpus-sized
  * k (hundreds — see `Dedup.semDeDupK`) blows past the JVM's 64 KB
  * method limit, kicks the whole stage out of codegen, and evaluates
  * k·dim interpreted allocations per row. This compiles to two tight
  * primitive loops regardless of k.
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
    val n = arr.numElements()
    val lf = isFloat
    // buffer the vector ONCE: the k-centroid loop reads each element
    // k times, and ArrayData accessors (null check + virtual get) are
    // the dominant cost at corpus-sized k — a flat local copy turns
    // the inner loop into pure array arithmetic, bit-identically.
    val buf = new Array[Double](n)
    var xx = 0.0
    var i = 0
    while (i < n) {
      val x =
        if (arr.isNullAt(i)) 0.0
        else if (lf) arr.getFloat(i).toDouble else arr.getDouble(i)
      buf(i) = x
      xx += x * x
      i += 1
    }
    val m = math.min(n, dim)
    var best = Long.MaxValue
    var bestJ = 0
    var j = 0
    while (j < k) {
      var xc = 0.0
      i = 0
      while (i < m) { xc += buf(i) * flat(j * dim + i); i += 1 }
      val q = math.floor((xx - xc * 2.0 + selfDots(j)) * 1e6).toLong
      if (q < best) { best = q; bestJ = j }
      j += 1
    }
    bestJ
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
      val ccRef = ctx.addReferenceObj("centroidSelfDots", selfDots, "double[]")
      // per-task scratch buffer, grown on demand: the k-centroid loop
      // reads each element k times, and ArrayData accessors dominate
      // at corpus-sized k — buffering once per row turns the inner
      // loop into flat array arithmetic, bit-identically. Mutable
      // state is safe: one operator instance per task thread.
      val buf = ctx.addMutableState("double[]", "ncqBuf",
        name => s"$name = new double[64];")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val xx = ctx.freshName("xx")
      val xc = ctx.freshName("xc")
      val q = ctx.freshName("q")
      val best = ctx.freshName("best")
      val bestJ = ctx.freshName("bestJ")
      val get =
        if (isFloat) (idx: String) => s"(double) $v.getFloat($idx)"
        else (idx: String) => s"$v.getDouble($idx)"
      s"""
         |int $n = $v.numElements();
         |if ($buf.length < $n) $buf = new double[$n];
         |double $xx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = $v.isNullAt($i) ? 0.0 : ${get(i)};
         |  $buf[$i] = x;
         |  $xx += x * x;
         |}
         |int $m = java.lang.Math.min($n, $dim);
         |long $best = Long.MAX_VALUE;
         |int $bestJ = 0;
         |for (int $j = 0; $j < $k; $j++) {
         |  double $xc = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $xc += $buf[$i] * $flatRef[$j * $dim + $i];
         |  }
         |  long $q = (long) java.lang.Math.floor(($xx - $xc * 2.0 + $ccRef[$j]) * 1e6);
         |  if ($q < $best) { $best = $q; $bestJ = $j; }
         |}
         |${ev.value} = $bestJ;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidQ = copy(child = newChild)
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
