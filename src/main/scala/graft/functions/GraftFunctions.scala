package graft.functions

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
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
  * Kernels whose Scala API takes static config (shingle n, chunk
  * sizes, z-order bits) require INT LITERAL arguments — the values
  * become codegen'd constants exactly as in the Column API; a
  * non-literal argument is an analysis-time error, not a silent
  * per-row reinterpretation.
  *
  * Aggregates (TopKAgg, IntMomentsAgg) stay Column-API-only:
  * their state schemas are type-parameterized in ways SQL argument
  * lists don't express cleanly, and their callers are operators, not
  * ad-hoc queries.
  */
object GraftFunctions {

  private def need(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def intLit(fn: String, args: Seq[Expression], i: Int): Int =
    args(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INT literal (it becomes a " +
          s"codegen constant), got $other")
    }

  private def reg(name: String, clazz: Class[_], usage: String)(
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, null, name, usage, ""),
      builder)

  /** One row per SQL function, consumed by
    * [[graft.plans.GraftExtensions]] and [[registerAll]].
    */
  val registrations: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(

    reg("intersect_size", classOf[IntersectSize],
      "intersect_size(a, b) - distinct-intersection cardinality of two string arrays, no materialized intersection") {
      args => need("intersect_size", args, 2); IntersectSize(args(0), args(1)) },

    reg("graft_sorted_intersect_size", classOf[SortedIntersectSize],
      "graft_sorted_intersect_size(a, b) - intersection cardinality of two SORTED string arrays via linear merge") {
      args => need("graft_sorted_intersect_size", args, 2)
        SortedIntersectSize(args(0), args(1)) },

    reg("graft_md5_prefix60", classOf[Md5Prefix60],
      "graft_md5_prefix60(s) - first 60 bits of md5(s) as a non-negative BIGINT; the engine's portable hash") {
      args => need("graft_md5_prefix60", args, 1); Md5Prefix60(args(0)) },

    reg("graft_shingles", classOf[WordShingles],
      "graft_shingles(text, n) - DISTINCT word n-gram shingles (n an INT literal)") {
      args => need("graft_shingles", args, 2)
        WordShingles(args(0), intLit("graft_shingles", args, 1)) },

    reg("graft_shingles_all", classOf[WordShinglesAll],
      "graft_shingles_all(text, n) - every word n-gram occurrence, duplicates kept (n an INT literal)") {
      args => need("graft_shingles_all", args, 2)
        WordShinglesAll(args(0), intLit("graft_shingles_all", args, 1)) },

    reg("graft_bigrams", classOf[WordBigrams],
      "graft_bigrams(text) - word bigram list") {
      args => need("graft_bigrams", args, 1); WordBigrams(args(0)) },

    reg("graft_token_chunks", classOf[TokenChunks],
      "graft_token_chunks(text, size, overlap) - overlapping fixed-token windows (INT literals)") {
      args => need("graft_token_chunks", args, 3)
        TokenChunks(args(0), intLit("graft_token_chunks", args, 1),
          intLit("graft_token_chunks", args, 2)) },

    reg("graft_zorder2", classOf[ZOrder2],
      "graft_zorder2(x, y, bits) - bit-interleaved Z-order key of two BIGINTs (bits an INT literal)") {
      args => need("graft_zorder2", args, 3)
        ZOrder2(args(0), args(1), intLit("graft_zorder2", args, 2)) },

    reg("graft_nfc", classOf[NfcNormalize],
      "graft_nfc(s) - Unicode NFC normalization") {
      args => need("graft_nfc", args, 1); NfcNormalize(args(0)) },

    reg("graft_strip_accents", classOf[StripAccents],
      "graft_strip_accents(s) - NFD + combining-mark removal") {
      args => need("graft_strip_accents", args, 1); StripAccents(args(0)) },

    reg("graft_fix_mojibake", classOf[FixMojibake],
      "graft_fix_mojibake(s) - repair UTF-8-read-as-Latin-1 double encoding") {
      args => need("graft_fix_mojibake", args, 1); FixMojibake(args(0)) },

    reg("graft_char_entropy", classOf[CharEntropy],
      "graft_char_entropy(s) - Shannon entropy of the character distribution, bits/char") {
      args => need("graft_char_entropy", args, 1); CharEntropy(args(0)) },

    reg("graft_dot", classOf[DotProduct],
      "graft_dot(a, b) - dot product of two float arrays") {
      args => need("graft_dot", args, 2); DotProduct(args(0), args(1)) })

  /** Install every function on a live session (idempotent: re-register
    * replaces). */
  def registerAll(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      GraftExpressionBridge.registerFunction(spark, id, info, builder)
    }
}
