package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  ExpectsInputTypes, Expression, Literal, RuntimeReplaceable, TaggingExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.util.Utils

/** Bridge to Spark's classic Column ⇄ Expression conversions, which are
  * `private[sql]` in Spark 4's unified Column API. Lives in the
  * `org.apache.spark.sql` package solely to satisfy that access scope —
  * the standard pattern for libraries contributing custom Catalyst
  * expressions (the same access `functions._` uses internally).
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Binds the static Scala method `target` over `args` as a
    * [[GraftKernel]] named `name`; `config` values are passed after the
    * columns as literals.
    */
  def kernel(
      name: String, target: String, dataType: DataType,
      inputTypes: Seq[AbstractDataType], args: Seq[Column],
      config: Any*): Column =
    column(GraftKernel(name, target, dataType, inputTypes,
      args.map(expression), config.map(Literal(_))))

  /** What a kernel column is replaced by — for optimizer rules, which
    * run after `RuntimeReplaceable`s are replaced.
    */
  def invocation(kernel: Column): Expression =
    expression(kernel).asInstanceOf[GraftKernel].replacement

  /** Input types a kernel binding outside this package cannot name. */
  val integralInput: AbstractDataType = IntegralType
  val stringOrBinaryInput: AbstractDataType =
    TypeCollection(StringType, BinaryType)

  /** The physical plan's RDD[InternalRow] — lets per-partition operators
    * (e.g. global row numbering) work on unsafe rows directly instead of
    * paying the InternalRow→Row conversion of `Dataset.rdd`.
    */
  def toInternalRdd(df: Dataset[Row]): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Wrap an InternalRow RDD back into a DataFrame without the
    * Row-conversion round trip (`SparkSession.internalCreateDataFrame`
    * is `private[sql]`).
    */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Re-root a DataFrame's LOGICAL plan at its physical RDD: the
    * result is semantically identical but its analyzed plan is a
    * single `LogicalRDD` leaf. For iterative jobs (PageRank,
    * connected components) this is what keeps per-round analysis cost
    * O(1) — persist() alone caches DATA but keeps the full logical
    * history, so round N's plan is N rounds deep and total planning
    * cost is O(N²). Unlike `localCheckpoint` the RDD lineage is
    * preserved, so lost cached blocks recompute instead of failing
    * the job, and the caller keeps explicit persist/unpersist control.
    * Lazy: nothing executes until the returned frame is acted on.
    */
  def planLeaf(df: Dataset[Row]): DataFrame =
    internalCreateDataFrame(df.sparkSession, toInternalRdd(df), df.schema)

  /** Register a native-expression SQL function on a LIVE session
    * (`sessionState.functionRegistry` is `private[sql]`). The
    * config-time path is `spark.sql.extensions=graft.plans.
    * GraftExtensions`; this is the runtime equivalent for sessions the
    * caller doesn't build.
    */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)
}

/** A scalar kernel bound by name: `target` is the dotted name of a
  * static Scala method (`graft.functions.WordShingleOps.shingle`), and
  * the optimizer replaces this node by a `StaticInvoke` of it. Generated
  * code calls the method directly; interpreted evaluation finds it by
  * reflection. So a kernel is written once, as a Scala method, and
  * keeps its stage in whole-stage codegen.
  *
  * `inputTypes` are checked without implicit casts. `config` literals
  * (shingle n, chunk sizes, z-order bits) follow the children as the
  * method's last arguments but are not children, so an unaliased
  * column is named `name(children)`. A null child gives null without a
  * call. The `StaticInvoke` is wrapped in a [[KernelCall]].
  */
case class GraftKernel(
    name: String, target: String, override val dataType: DataType,
    inputTypes: Seq[AbstractDataType], children: Seq[Expression],
    config: Seq[Literal])
  extends RuntimeReplaceable with ExpectsInputTypes {

  override def prettyName: String = name

  override lazy val replacement: Expression = {
    val dot = target.lastIndexOf('.')
    KernelCall(StaticInvoke(Utils.classForName(target.substring(0, dot)),
      dataType, target.substring(dot + 1), children ++ config,
      returnNullable = false))
  }

  override protected def stringArgs: Iterator[Any] = Iterator(children, config)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftKernel =
    copy(children = newChildren)
}

/** A kernel's `StaticInvoke`, evaluated and generated as is. The wrapper
  * only hides that the call is null-intolerant: from that, the optimizer
  * would infer `isnotnull` filters on the kernel's inputs (five
  * inventory plans gained some), and a kernel binding changes no plan.
  */
case class KernelCall(child: Expression) extends TaggingExpression {
  override def toString: String = child.toString

  override protected def withNewChildInternal(newChild: Expression): KernelCall =
    copy(child = newChild)
}
