package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge, GraftKernel, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for graft's native Catalyst kernels: every scalar
  * expression in this package, callable from `spark.sql(...)` by name.
  * Registered two ways —
  *
  *   - config time (any session, including thrift/connect servers):
  *     `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *   - runtime, on a session the caller didn't build:
  *     `GraftFunctions.registerAll(spark)` (what [[graft.Tables.prepare]]
  *     does, so every engine entry point has the functions).
  *
  * Each function builds the same expression as its Column-API helper,
  * argument checks included. Kernels whose Scala API takes static
  * config (shingle n, chunk sizes, z-order bits) require INT LITERAL
  * arguments — the values become codegen'd constants exactly as in the
  * Column API; a non-literal argument is an analysis-time error, not a
  * silent per-row reinterpretation.
  *
  * Aggregates (TopKAgg, IntMomentsAgg) stay Column-API-only:
  * their state schemas are type-parameterized in ways SQL argument
  * lists don't express cleanly, and their callers are operators, not
  * ad-hoc queries.
  */
object GraftFunctions {
  import GraftExpressionBridge.{column, expression}

  private def intLit(fn: String, args: Seq[Expression], i: Int): Int =
    args(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INT literal (it becomes a " +
          s"codegen constant), got $other")
    }

  /** A SQL function of `arity` arguments that builds what its Column-API
    * helper builds.
    */
  private def reg(name: String, arity: Int, usage: String,
      clazz: Class[_] = classOf[GraftKernel])(build: Seq[Expression] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, null, name, usage, ""),
      args => {
        require(args.length == arity,
          s"$name expects $arity arguments, got ${args.length}")
        expression(build(args))
      })

  /** One row per SQL function, consumed by
    * [[graft.plans.GraftExtensions]] and [[registerAll]].
    */
  val registrations: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(

    reg("intersect_size", 2,
      "intersect_size(a, b) - distinct-intersection cardinality of two string arrays, no materialized intersection") {
      a => ArrayExprs.intersectSize(column(a(0)), column(a(1))) },

    reg("graft_sorted_intersect_size", 2,
      "graft_sorted_intersect_size(a, b) - intersection cardinality of two SORTED string arrays via linear merge") {
      a => ArrayExprs.sortedIntersectSize(column(a(0)), column(a(1))) },

    reg("graft_md5_prefix60", 1,
      "graft_md5_prefix60(s) - first 60 bits of md5(s) as a non-negative BIGINT; the engine's portable hash") {
      a => HashExprs.md5Prefix60(column(a(0))) },

    reg("graft_shingles", 2,
      "graft_shingles(text, n) - DISTINCT word n-gram shingles (n an INT literal)") {
      a => TextExprs.wordShingles(column(a(0)), intLit("graft_shingles", a, 1)) },

    reg("graft_shingles_all", 2,
      "graft_shingles_all(text, n) - every word n-gram occurrence, duplicates kept (n an INT literal)") {
      a => TextExprs.wordShinglesAll(column(a(0)), intLit("graft_shingles_all", a, 1)) },

    reg("graft_bigrams", 1, "graft_bigrams(text) - word bigram list") {
      a => TextExprs.wordBigrams(column(a(0))) },

    reg("graft_token_chunks", 3,
      "graft_token_chunks(text, size, overlap) - overlapping fixed-token windows (INT literals)") {
      a => TextExprs.tokenChunks(column(a(0)), intLit("graft_token_chunks", a, 1),
        intLit("graft_token_chunks", a, 2)) },

    reg("graft_zorder2", 3,
      "graft_zorder2(x, y, bits) - bit-interleaved Z-order key of two BIGINTs (bits an INT literal)") {
      a => BitExprs.zOrder2(column(a(0)), column(a(1)), intLit("graft_zorder2", a, 2)) },

    reg("graft_nfc", 1, "graft_nfc(s) - Unicode NFC normalization") {
      a => NormalizeExprs.nfc(column(a(0))) },

    reg("graft_strip_accents", 1, "graft_strip_accents(s) - NFD + combining-mark removal") {
      a => NormalizeExprs.stripAccents(column(a(0))) },

    reg("graft_fix_mojibake", 1,
      "graft_fix_mojibake(s) - repair UTF-8-read-as-Latin-1 double encoding") {
      a => NormalizeExprs.fixMojibake(column(a(0))) },

    reg("graft_char_entropy", 1,
      "graft_char_entropy(s) - Shannon entropy of the character distribution, bits/char") {
      a => NormalizeExprs.charEntropy(column(a(0))) },

    reg("graft_dot", 2, "graft_dot(a, b) - dot product of two float arrays",
      classOf[DotProduct]) {
      a => VectorExprs.dot(column(a(0)), column(a(1))) })

  /** Install every function on a live session (idempotent: re-register
    * replaces). */
  def registerAll(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      GraftExpressionBridge.registerFunction(spark, id, info, builder)
    }
}
