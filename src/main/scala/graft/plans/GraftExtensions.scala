package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.GraftExpressionBridge.{column, invocation}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.functions.ArrayExprs

/** Catalyst optimizer rule: `size(array_intersect(a, b))` over string
  * arrays → the `intersect_size` kernel
  * ([[graft.functions.ArrayIntersectOps.hashIntersectSize]]).
  *
  * The built-in pair MATERIALIZES the intersected array per row only to
  * count it — and when the same expression appears in both a projection
  * and a pushed-down filter, Catalyst duplicates it, so the array is
  * built twice per row. The rewrite counts with one hash-set probe and
  * no allocation, inside whole-stage codegen. Installing the rule makes
  * the optimization apply to ANY user-written plan (SQL included), not
  * just queries that call graft's helper functions.
  *
  * Semantics match the built-ins exactly for string arrays: duplicate
  * elements count once, null ELEMENTS are ignored by both `intersect_
  * size` and `array_intersect` + `size` (a null element can appear in
  * `array_intersect`'s output at most once but is then counted by
  * `size`) — EXCEPT that `array_intersect` keeps one null element when
  * both sides contain null, which `size` counts. To stay exact, the
  * rewrite only fires when either side's array provably
  * `containsNull = false` (the common case for `split`/`array_distinct`
  * outputs).
  */
object IntersectSizeRewrite extends Rule[LogicalPlan] {
  private def isStringArray(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e.resolved && (e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })

  private def noNullElements(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // legacySizeOfNull=false only: under the legacy conf size(NULL)
      // is -1, while the kernel returns NULL on a NULL input —
      // rewriting there would change results. Injected optimizer rules
      // run after RuntimeReplaceable nodes are replaced, so the rule
      // inserts the kernel's StaticInvoke itself.
      case Size(ArrayIntersect(a, b), false)
          if isStringArray(a) && isStringArray(b) &&
            (noNullElements(a) || noNullElements(b)) =>
        invocation(ArrayExprs.intersectSize(column(a), column(b)))
    }
}

/** Library entry point for `spark.sql.extensions` /
  * `SparkSession.builder().withExtensions(...)`:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => IntersectSizeRewrite)
    // The SQL surface: every scalar kernel in graft.functions by name.
    graft.functions.GraftFunctions.registrations.foreach(ext.injectFunction)
  }
}
