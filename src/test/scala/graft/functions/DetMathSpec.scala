package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[DetMath.lnq]] is the determinism kernel under every
  * floor-quantized log in the drift/entropy/MI family — these specs
  * pin (a) bit-equality between the Column form and the scalar
  * reference model (the same property the DuckDB oracle mirror
  * relies on), (b) the exact special values the JSD dummy-input
  * guard depends on, and (c) accuracy against libm far below the
  * 12-dp quantization grid.
  */
class DetMathSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** [[DetMath.lnq]]'s op tree in Column form — the literal mirror of
    * the SQL chain ([[graft.queries.Shared]]'s lnSqlChain), the vehicle
    * proving tree ≡ scalar bit-for-bit (hence DuckDB chain ≡ scalar).
    * Queries use [[DetMath.lnq]] (one expression node evaluating
    * [[DetMath.lnqDouble]]): inlining this ~80-node tree at every call
    * site made runtime CODEGEN dominate bounded-grid queries
    * (q_psi_daily 26 s, q_js_drift ~5 s of 6).
    */
  private def lnqTree(x: Column): Column = {
    val k0 = floor(log2(x)).cast("long")
    val m0 = x * pow(lit(2.0), (-k0).cast("double"))
    val k = when(m0 >= 2.0, k0 + lit(1L))
      .when(m0 < 1.0, k0 - lit(1L))
      .otherwise(k0)
    val m = when(m0 >= 2.0, m0 * lit(0.5))
      .when(m0 < 1.0, m0 * lit(2.0))
      .otherwise(m0)
    val t = (m - lit(1.0)) / (m + lit(1.0))
    val u = t * t
    // 2·atanh(t): t·(2 + t²·(2/3 + t²·(2/5 + …))) — Horner, fixed
    // order, coefficients as correctly-rounded compile-time quotients.
    val s = t * (lit(2.0) + u * (lit(2.0 / 3.0) + u * (lit(2.0 / 5.0) +
      u * (lit(2.0 / 7.0) + u * (lit(2.0 / 9.0) + u * (lit(2.0 / 11.0) +
        u * (lit(2.0 / 13.0) + u * (lit(2.0 / 15.0) + u * (lit(2.0 / 17.0) +
          u * (lit(2.0 / 19.0) + u * (lit(2.0 / 21.0) + u * lit(2.0 / 23.0)
            )))))))))))
    s + k.cast("double") * lit(DetMath.Ln2)
  }

  /** [[DetMath.expq]]'s op tree in Column form — the literal mirror of
    * the SQL chain ([[graft.queries.Shared]]'s expSqlChain), the
    * vehicle proving tree ≡ scalar (hence DuckDB chain ≡ scalar).
    * Queries use [[DetMath.expq]] (one expression node): inlining this
    * tree per call made runtime codegen the dominant cost of
    * bounded-grid queries.
    */
  private def expqTree(x: Column): Column = {
    val k = floor(x * lit(1.0 / DetMath.Ln2) + lit(0.5))
    val r = x - k * lit(DetMath.Ln2)
    val s = lit(1.0) + r * (lit(1.0) + r * (lit(1.0 / 2.0) +
      r * (lit(1.0 / 6.0) + r * (lit(1.0 / 24.0) + r * (lit(1.0 / 120.0) +
        r * (lit(1.0 / 720.0) + r * (lit(1.0 / 5040.0) +
          r * (lit(1.0 / 40320.0) + r * (lit(1.0 / 362880.0) +
            r * (lit(1.0 / 3628800.0) + r * (lit(1.0 / 39916800.0) +
              r * lit(1.0 / 479001600.0))))))))))))
    s * pow(lit(2.0), k)
  }

  test("lnq(1) is exactly 0 and powers of two are exactly k*ln2") {
    assert(bits(DetMath.lnqDouble(1.0)) == bits(0.0))
    for (k <- -60 to 60 if k != 0) {
      val x = math.pow(2.0, k.toDouble)
      assert(bits(DetMath.lnqDouble(x)) == bits(k.toDouble * DetMath.Ln2),
        s"2^$k")
    }
  }

  test("Column lnq is bit-identical to the scalar model across a " +
    "wide-exponent sweep") {
    val xs = (1 to 20000).flatMap { i =>
      Seq(
        i.toDouble / 7919.0,            // ratio-of-counts shapes
        1e-6 * i,                        // eps-scaled psi inputs
        i.toDouble / 19997.0 / 1e-6,     // large ratios
        math.pow(2.0, (i % 120 - 60).toDouble) * (1.0 + i / 1e8))
    }.filter(_ > 0)
    // the TREE pin proves the SQL-chain mirror ≡ scalar; the lnq
    // (expression-node) pin proves queries compute the same thing
    val got = xs.toDF("x")
      .select(col("x"), lnqTree(col("x")).as("tree"),
        DetMath.lnq(col("x")).as("lnx"))
      .as[(Double, Double, Double)].collect()
    got.foreach { case (x, tree, lnx) =>
      assert(bits(tree) == bits(DetMath.lnqDouble(x)), s"tree x=$x")
      assert(bits(lnx) == bits(DetMath.lnqDouble(x)), s"x=$x")
    }
  }

  test("lnq tracks libm log within 5e-13 absolute over [1e-12, 1e12]") {
    var worst = 0.0
    (1 to 100000).foreach { i =>
      val x = math.exp((i % 55300) / 1000.0 - 27.6) // ~e^-27.6 .. e^27.6
      val err = math.abs(DetMath.lnqDouble(x) - math.log(x))
      if (err > worst) worst = err
    }
    assert(worst < 5e-13, s"worst=$worst")
  }

  test("expq(0) is exactly 1 and integer multiples of ln2 are exact " +
    "powers of two") {
    assert(bits(DetMath.expqDouble(0.0)) == bits(1.0))
    for (k <- -60 to 60) {
      val got = DetMath.expqDouble(k.toDouble * DetMath.Ln2)
      // r = k*ln2 - k*ln2 = 0 exactly -> s = 1 -> 2^k exactly
      assert(bits(got) == bits(math.pow(2.0, k.toDouble)), s"k=$k")
    }
  }

  test("Column expq is bit-identical to the scalar model across " +
    "surprisal/score-shaped inputs") {
    val xs = (1 to 20000).flatMap { i =>
      Seq(
        i.toDouble / 1000.0,            // surprisal range [0, 20]
        -i.toDouble / 2000.0,           // negative scores
        i.toDouble / 7919.0 - 1.3,      // straddling zero
        (i % 1400).toDouble / 2.0 - 350.0)  // wide-exponent sweep
    }
    val got = xs.toDF("x")
      .select(col("x"), expqTree(col("x")).as("tree"),
        DetMath.expq(col("x")).as("ex"))
      .as[(Double, Double, Double)].collect()
    got.foreach { case (x, tree, ex) =>
      assert(bits(tree) == bits(DetMath.expqDouble(x)), s"tree x=$x")
      assert(bits(ex) == bits(DetMath.expqDouble(x)), s"x=$x")
    }
  }

  test("expq tracks libm exp within 1e-13 relative and inverts lnq " +
    "to ~1e-12") {
    (1 to 5000).foreach { i =>
      val x = i.toDouble / 250.0 - 10.0  // [-10, 10]
      val e = DetMath.expqDouble(x)
      assert(math.abs(e - math.exp(x)) / math.exp(x) < 1e-13, s"x=$x")
    }
    (1 to 5000).foreach { i =>
      val x = i.toDouble / 3.7
      val rt = DetMath.expqDouble(DetMath.lnqDouble(x))
      assert(math.abs(rt - x) / x < 1e-12, s"x=$x")
    }
  }

  test("lnRatioFp tracks libm log within 1e-12 relative-to-Q and is " +
    "exactly 0 at a=b") {
    assert(DetMath.lnRatioFpBig(7L, 7L) == 0)
    var worst = 0.0
    (1 to 20000).foreach { i =>
      val a = 1L + (i.toLong * 2654435761L) % 999999937L
      val b = 1L + (i.toLong * 48271L) % a
      val fp = DetMath.lnRatioFpBig(a max b, a min b)
      val err = math.abs(fp.toDouble / 1e18 -
        math.log((a max b).toDouble / (a min b).toDouble))
      if (err > worst) worst = err
    }
    assert(worst < 1e-12, s"worst=$worst")
  }
}
