package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression, kernel}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Cross-engine DETERMINISTIC transcendental kernels.
  *
  * Problem class (observed, not theoretical): a hash-compared query
  * that feeds `ln` output into a 12-dp floor quantization
  * (`⌊x·10¹²⌋`) diverged between Spark and the DuckDB oracle in three
  * consecutive driver rounds (r06–r08 `q_psi_drift`), because JVM
  * `Math.log` and C libm `log` are each allowed 1 ulp of error and do
  * not round identically. A 1-ulp disagreement under a floor/round is
  * a coin that lands on its edge with probability ~1e-4 PER TERM at
  * 12-dp quantization — across ~60 bins and fresh data every round,
  * that is a per-round hash-fail risk in the percent range, and once
  * the data hits a boundary the failure is deterministic until the
  * data changes.
  *
  * Fix: compute `ln` from scratch using ONLY operations IEEE 754
  * requires to be correctly rounded (+, −, ×, ÷, comparisons) plus
  * exact power-of-two scaling, in a FIXED evaluation order. Any
  * engine evaluating this formula over binary64 produces the
  * bit-identical double, so downstream floors/rounds can never
  * straddle. The DuckDB mirror is [[graft.queries.Shared]]'s `lnSqlChain`
  * — op-for-op the same tree (constants written in scientific
  * notation there so DuckDB parses them as DOUBLE, not DECIMAL).
  *
  * Algorithm (atanh series with power-of-two range reduction):
  *   1. k0 = ⌊log2(x)⌋ — engine libm, MAY be off by one near powers
  *      of two; used only as a first guess.
  *   2. m0 = x · 2^(−k0) — pow(2, integer) is exact, the product is
  *      one correctly-rounded multiply (in fact exact: scaling by a
  *      power of two only shifts the exponent).
  *   3. Correct the guess: if m0 ≥ 2 → m = m0/2, k = k0+1; if m0 < 1
  *      → m = m0·2, k = k0−1 — after which m ∈ [1,2) and k is THE
  *      binary exponent, independent of which libm produced k0.
  *   4. t = (m−1)/(m+1) ∈ [0, 1/3]; ln(m) = 2·atanh(t) via a 12-term
  *      fixed-order Horner polynomial in t² (truncation error
  *      ≤ 2·(1/3)²⁵/25 ≈ 1e-13, far below the 12-dp quantum relative
  *      to the ±1e-12 grid but identical in every engine — accuracy
  *      only bounds metric error, determinism is exact).
  *   5. ln(x) = ln(m) + k·ln2 with ln2 as the shortest-repr double
  *      literal 0.6931471805599453 — one multiply, one add.
  *
  * Coefficients are written as compile-time double QUOTIENTS
  * (2.0/3.0, …) — the correctly-rounded IEEE quotient — and the SQL
  * mirror writes (2e0/3e0), the same correctly-rounded quotient
  * evaluated by DuckDB. Codegen stays whole-stage: everything here is
  * built-in arithmetic expressions.
  *
  * Domain: x > 0, finite, non-subnormal-extreme (|exponent| ≤ ~1020 —
  * every proportion/ratio in the drift/entropy/MI queries is within
  * [1e-12, 1e12]). x = 1 returns exactly 0.0.
  */
object DetMath {

  /** ln2 as the shortest-repr double literal — mirrored verbatim
    * (scientific notation) in the oracle SQL chain.
    */
  val Ln2: Double = 0.6931471805599453

  /** Scalar reference model of [[lnq]] — the same IEEE tree evaluated
    * in plain JVM doubles. Bit-identical to the Column form (and to
    * the DuckDB mirror): the only engine-libm call is the log2 FIRST
    * GUESS, and the ≥2/<1 correction step erases any 1-ulp
    * disagreement in it. Used by specs as the ground-truth model.
    */
  def lnqDouble(x: Double): Double = {
    val k0 = math.floor(math.log(x) / math.log(2.0)).toLong
    val m0 = x * math.pow(2.0, -k0.toDouble)
    val (k, m) =
      if (m0 >= 2.0) (k0 + 1L, m0 * 0.5)
      else if (m0 < 1.0) (k0 - 1L, m0 * 2.0)
      else (k0, m0)
    val t = (m - 1.0) / (m + 1.0)
    val u = t * t
    val s = t * (2.0 + u * (2.0 / 3.0 + u * (2.0 / 5.0 +
      u * (2.0 / 7.0 + u * (2.0 / 9.0 + u * (2.0 / 11.0 +
        u * (2.0 / 13.0 + u * (2.0 / 15.0 + u * (2.0 / 17.0 +
          u * (2.0 / 19.0 + u * (2.0 / 21.0 + u * (2.0 / 23.0))))))))))))
    s + k.toDouble * Ln2
  }

  /** Scalar reference model of [[expq]] — same IEEE tree in plain JVM
    * doubles; bit-identical to the Column form and the DuckDB mirror.
    */
  def expqDouble(x: Double): Double = {
    val k = math.floor(x * (1.0 / Ln2) + 0.5)
    val r = x - k * Ln2
    val s = 1.0 + r * (1.0 + r * (1.0 / 2.0 + r * (1.0 / 6.0 +
      r * (1.0 / 24.0 + r * (1.0 / 120.0 + r * (1.0 / 720.0 +
        r * (1.0 / 5040.0 + r * (1.0 / 40320.0 + r * (1.0 / 362880.0 +
          r * (1.0 / 3628800.0 + r * (1.0 / 39916800.0 +
            r * (1.0 / 479001600.0))))))))))))
    s * math.pow(2.0, k)
  }

  /** Deterministic natural exponential — [[lnq]]'s inverse, same
    * contract: ONLY correctly-rounded IEEE ops in a FIXED order, so
    * any binary64 engine evaluating the mirrored formula produces the
    * bit-identical double.
    *
    * Algorithm: k = ⌊x/ln2 + 1/2⌋ (one multiply by the precomputed
    * reciprocal literal, one add, one floor — every step correctly
    * rounded, so k is engine-independent); r = x − k·ln2 ∈ ~[−0.35,
    * 0.35]; e^r by a fixed-order 13-term Taylor Horner (truncation
    * ~1e-16 relative — accuracy bounds metric error, determinism is
    * exact); e^x = e^r · 2^k with the power-of-two scale exact.
    * Unlike libm's extra-precision ln2-hi/lo reduction, r carries a
    * ~1e-17 representation error — harmless: it shifts the VALUE a
    * few ulps identically in every engine. Domain |x| ≲ 700.
    *
    * Coefficients are compile-time double quotients (1.0/6.0, …); the
    * SQL mirror ([[graft.queries.Shared]]'s expSqlChain) writes
    * (1e0/6e0) so DuckDB types them DOUBLE.
    */
  def expq(x: Column): Column = kernel("expqexpr",
    "graft.functions.DetMath.expqDouble", DoubleType, Seq(DoubleType), Seq(asDouble(x)))

  /** Fixed-point scale for [[lnRatioFpBig]]: Q = 10¹⁸. */
  val FpQ: Long = 1000000000000000000L

  /** ⌊ln2 · 10¹⁸⌋ — pinned INTEGER constant, mirrored verbatim in the
    * oracle SQL ([[graft.queries.DriftQueries]]'s `lnRatioFpSql`).
    */
  val Ln2Fp: Long = 693147180559945309L

  /** Horner coefficients ⌊2·10¹⁸/(2i+1)⌋, i = 0..11 — pinned integer
    * literals (NOT computed at runtime), mirrored verbatim in the SQL
    * chain so both engines run the identical integer program.
    */
  val LnFpCoeffs: Seq[Long] = Seq(
    2000000000000000000L, 666666666666666666L, 400000000000000000L,
    285714285714285714L, 222222222222222222L, 181818181818181818L,
    153846153846153846L, 133333333333333333L, 117647058823529411L,
    105263157894736842L, 95238095238095238L, 86956521739130434L)

  /** ⌊ln(a/b) · 10¹⁸⌋-class fixed-point natural log of a ratio of
    * POSITIVE integers, computed in EXACT integer arithmetic only —
    * the step past [[lnq]] for contracts that may not let ANY double
    * cross an engine boundary. [[lnq]] is bit-identical across
    * engines whose basic binary64 ops are correctly rounded (IEEE
    * requires it, and every engine tested complies); this kernel
    * removes even that assumption: integer compare / multiply /
    * truncating divide have exactly one possible answer in ANY
    * engine or version, so the result is reproducible by
    * construction, not by standards-compliance.
    *
    * Algorithm (the [[lnq]] atanh series, re-expressed in Q = 10¹⁸
    * fixed point):
    *   1. k = ⌊log2(a/b)⌋ exactly: first guess bitlen(a) − bitlen(b)
    *      via the engines' binary-string `bin()` (no leading zeros in
    *      both Spark and DuckDB), corrected by one shift-compare.
    *   2. m = a/(b·2ᵏ) ∈ [1,2); t = (m−1)/(m+1) ∈ [0,⅓] as
    *      t_fp = ((a−b·2ᵏ)·Q) div (a+b·2ᵏ) — one truncating divide.
    *   3. 2·atanh(t) by the 12-term Horner in u = t² with the pinned
    *      ⌊2Q/(2i+1)⌋ coefficients, every product re-normalized by a
    *      truncating div Q.
    *   4. + k·⌊ln2·Q⌋ (exact integer multiply-add).
    *
    * Value error vs true ln: series truncation ≤ 2·(⅓)²⁵/25 ≈ 1e-13
    * plus ≤ ~15 unit-truncations ≈ 1e-17 — identical in every engine
    * (accuracy bounds metric error; determinism is exact).
    *
    * Domain: 1 ≤ b ≤ a < 2⁶¹ (callers order the ratio ≥ 1 and carry
    * the sign; intermediates stay within decimal(38,0)/HUGEINT in the
    * SQL mirror, [[graft.queries.DriftQueries]]'s `lnRatioFpSql`).
    * a = b returns exactly 0. BigInt `/` truncates toward zero = `div`;
    * all operands here are non-negative so floor = trunc.
    */
  def lnRatioFpBig(a: Long, b: Long): BigInt = {
    require(b >= 1 && a >= b && a < (1L << 61),
      s"lnRatioFp domain: 1 <= b <= a < 2^61, got a=$a b=$b")
    val bitlen = (x: Long) => 64 - java.lang.Long.numberOfLeadingZeros(x)
    val k0 = bitlen(a) - bitlen(b)
    val k = if (a >= (b << k0)) k0 else k0 - 1
    val b2 = b << k
    val Q = BigInt(FpQ)
    val t = (BigInt(a - b2) * Q) / BigInt(a + b2)
    val u = (t * t) / Q
    val acc = LnFpCoeffs.init.foldRight(BigInt(LnFpCoeffs.last)) {
      (c, a0) => BigInt(c) + (u * a0) / Q
    }
    (t * acc) / Q + BigInt(k) * BigInt(Ln2Fp)
  }

  /** One PSI grid-cell term ·10¹², exact: the scalar shared by the
    * [[psiTerm]] kernel (distributed form) and
    * [[graft.ext.Drift.psiTrend]]'s driver-side grid — ONE
    * implementation, so the pair alarm and the trend can never
    * disagree by construction. Math is the documented rational
    * contract: absent sides take the 1/epsDen floor, A = qn·pd and
    * B = pn·qd stay in Long (the ≤2³⁰ per-side/epsDen require below
    * caps them at 2⁶⁰ — PAST it a Long product could wrap back inside
    * [[lnRatioFpBig]]'s accepted domain and return silently wrong
    * PSI, hence loud, not assumed), term = |A−B|·lnFp / (pd·qd·10⁶)
    * in BigInt. Worst case |A−B|/M ≤ 1 so the result ≤ lnFp/10⁶
    * < 2⁶¹·ln-scale — well inside Long.
    */
  def psiTermMicro12(
      br: Long, bc: Long, nRef: Long, nCur: Long, epsDen: Long): Long = {
    val maxSide = 1L << 30
    require(nRef <= maxSide && nCur <= maxSide && epsDen <= maxSide,
      "Drift.psi: side totals (or 1/eps) past 2^30 overflow the BIGINT " +
        "rational terms — widen A/B/M to decimal (see Drift.psi scaladoc)")
    val (pn, pd) = if (br == 0L) (1L, epsDen) else (br, nRef)
    val (qn, qd) = if (bc == 0L) (1L, epsDen) else (bc, nCur)
    val a = qn * pd
    val b = pn * qd
    val lnFp = lnRatioFpBig(a max b, a min b)
    ((BigInt((a - b).abs) * lnFp) /
      (BigInt(pd) * BigInt(qd) * 1000000L)).toLong
  }

  /** `psi_term_micro12(br, bc, n_ref, n_cur, eps_den)` over five BIGINT
    * columns: [[psiTermMicro12]] per row, so it is bit-identical to the
    * driver-side grid by construction; the DuckDB oracle mirrors the
    * same integer program in SQL.
    *
    * A kernel for PLAN size, not semantics: the equivalent Column form
    * (the fixed-point ln series + decimal divides) inlines a ~200-node
    * decimal tree whose runtime codegen dominated the whole query
    * (measured 5.5 s of a 6.5 s sf0.1 PSI — the term stage runs over
    * ~32 bin rows).
    */
  def psiTerm(br: Column, bc: Column, nRef: Column, nCur: Column,
      epsDen: Column): Column =
    kernel("psitermmicro12", "graft.functions.DetMath.psiTermMicro12",
      LongType, Seq.fill(5)(LongType), Seq(br, bc, nRef, nCur, epsDen))

  /** Deterministic natural log; see object doc. Bit-identical in any
    * IEEE-754 engine evaluating the mirrored formula. One node calling
    * [[lnqDouble]]: every caller gets a tiny plan (the inlined ~80-node
    * tree cost per-query janino compilation) and compiled, box-free
    * per-row evaluation in unbounded hot paths (weighted-sample keys,
    * per-token surprisal).
    */
  def lnq(x: Column): Column = kernel("lnqexpr",
    "graft.functions.DetMath.lnqDouble", DoubleType, Seq(DoubleType), Seq(asDouble(x)))

  /** `x` cast to double the way Spark casts an input implicitly, so an
    * unaliased column is still named `lnqexpr(x)`.
    */
  private def asDouble(x: Column): Column =
    column(Cast(expression(x), DoubleType))
}
