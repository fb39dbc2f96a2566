package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** [EXT] Distribution-drift monitoring between two corpus snapshots
  * (reference window vs current window) — the check a training-data
  * pipeline runs before a new crawl batch is allowed into the mix.
  * No reference equivalent (north-star extension per BASELINE.json).
  *
  * Population Stability Index over fixed-width bins:
  *   PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)
  * with the standard zero-bin fix (an empty bin's proportion is
  * replaced by `eps` — PSI is undefined at 0). Rule-of-thumb read:
  * < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
  *
  * Determinism contract (cross-engine oracle-able): [[psi]] is
  * computed in PURE INTEGER arithmetic end-to-end — exact rational
  * proportions, the fixed-point exact-integer log
  * [[graft.functions.DetMath.lnRatioFpBig]], truncating divides on
  * non-negative operands, and an integer `psi_micro12` output (PSI =
  * psi_micro12/1e12 if a float read is wanted). History: libm `log`
  * diverged between JVM and C (r06–r08), the IEEE-fixed-order
  * [[graft.functions.DetMath.lnq]] chain fixed that but still
  * floored a double at 12 dp, and an external hash kept disagreeing
  * while the local gate was green (r06–r09) — the only
  * version-proof contract is no double ANYWHERE in the computation:
  * integer ops have exactly one possible answer in any engine or
  * engine version. [[psiTrend]] (a float-read monitoring table,
  * hash-stable externally) keeps the lnq double kernel.
  *
  * Scale shape: one hash aggregate per side keyed on the bin id
  * (map-side combinable, shuffle carries ≤ #bins rows per task), one
  * tiny full-outer join on bin ids, one single-row reduce. The raw
  * corpora are each scanned once and never joined row-to-row.
  */
object Drift {

  /** Single-row frame: (psi_micro12, n_bins, n_ref, n_cur) —
    * psi_micro12 is the exact Σ⌊term·10¹²⌋ integer sum (BIGINT);
    * divide by 1e12 for the float PSI. Bins are `floor(value /
    * width)` — use a power-of-two width for bit-exact binning (see
    * [[Olap.histogram]]). Null values are excluded.
    *
    * PURE-INTEGER term contract (no double exists anywhere in the
    * computation): with exact rationals p = pn/pd, q = qn/qd (the
    * bin proportions, or eps = 1/epsDen for an absent side), each
    * term (q−p)·ln(q/p) is mathematically ≥ 0 and is computed as
    *   A = qn·pd, B = pn·qd, d = |A−B|, M = pd·qd
    *   term12 = (d · lnRatioFp(max(A,B), min(A,B))) div (M·10⁶)
    * with [[graft.functions.DetMath.lnRatioFpBig]] the exact-integer
    * fixed-point ln — every step is integer multiply / truncating
    * divide on non-negative operands, so ANY engine or engine
    * VERSION reproduces the sum bit-for-bit. (The previous contract
    * floored `(q−p)·lnq(q/p)·1e12` — correct under IEEE-compliant
    * doubles, but a floor of a double is one ulp away from flipping
    * if any engine's cast/round semantics drift; after four rounds
    * of an external hash disagreeing while the local gate was green,
    * the only version-proof contract is no doubles at all.)
    *
    * Domain note at 100 TB: A = qn·pd and B = pn·qd multiply raw bin
    * counts by proportion denominators in BIGINT, and the ln kernel
    * requires its inputs < 2⁶¹ — exact up to ~2³⁰ rows PER SIDE with
    * the default epsDen = 10⁶. The bound is ENFORCED in the plan: a
    * side total past 2³⁰ raises a clear error (never a silent Long
    * wrap); the divides themselves run in DECIMAL. Past that scale,
    * widen A/B/M to decimal columns — the shape (two bin aggregates,
    * one bounded join) is unchanged.
    */
  def psi(
      ref: DataFrame, cur: DataFrame, valueCol: String,
      width: Long, eps: Double = 1e-6): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    val epsDen = math.round(1.0 / eps)
    require(epsDen >= 1 && math.abs(1.0 / epsDen.toDouble - eps) <= 0.0,
      s"eps must be an exact reciprocal 1/N (rational contract): $eps")
    // Eager, like psiTrend: the term kernel re-checks per row, but an
    // out-of-domain eps must fail HERE (driver-side, even on empty
    // input), not as a wrapped task failure once data shows up.
    require(epsDen <= (1L << 30),
      s"psi eps too fine for exact Long terms: 1/$epsDen")
    val r = binCounts(ref, valueCol, width, "n_ref")
    val c = binCounts(cur, valueCol, width, "n_cur")
    // Totals are a one-row aggregate broadcast back over the bin
    // table — NEVER a collect of the bins themselves, whose count is
    // value-range / width and not bounded by design. The bin-join
    // subtree feeds both passes; Spark reuses its exchange.
    val binTable = r.join(c, Seq("bin"), "full_outer")
      .select(
        coalesce(col("n_ref"), lit(0L)).as("br"),
        coalesce(col("n_cur"), lit(0L)).as("bc"))
    val totals = binTable.agg(
      sum(col("br")).as("n_ref"),
      sum(col("bc")).as("n_cur"),
      count(lit(1)).as("n_bins"))
    // One expression node per term, evaluating the shared exact
    // scalar [[graft.functions.DetMath.psiTermMicro12]] (which also
    // enforces the 2³⁰ per-side/epsDen domain loudly — including the
    // epsDen leg the former Column-tree guard missed). The previous
    // inline decimal ln tree (~200 nodes) made runtime CODEGEN the
    // cost of the whole query: 5.5 s of a 6.5 s sf0.1 run spent
    // compiling a projection that executes over ~32 bin rows.
    val term = graft.functions.DetMath.psiTerm(
      col("br"), col("bc"), col("n_ref"), col("n_cur"), lit(epsDen))
    // Terms sum in DECIMAL (the oracle sums HUGEINT): ~41e12 per term
    // would overflow a Long sum past ~2·10⁵ bins, and the bin count is
    // value-range/width — unbounded by design.
    binTable.crossJoin(broadcast(totals))
      .groupBy(col("n_ref"), col("n_cur"), col("n_bins"))
      .agg(sum(term.cast("decimal(20,0)")).cast("long").as("psi_micro12"))
      .select("psi_micro12", "n_bins", "n_ref", "n_cur")
  }

  /** The per-bin count aggregate [[psi]] runs on each side:
    * (bin = ⌊value/width⌋, count).
    */
  private def binCounts(
      df: DataFrame, valueCol: String, width: Long,
      countName: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / lit(width.toDouble)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as(countName))

  /** PSI TREND: one PSI row per `groupCol` value (typically the day),
    * each against the same fixed reference — the monitoring TABLE a
    * drift dashboard plots, where [[psi]] is the one-number alarm.
    * Per-group semantics match [[psi]] exactly: the bin universe for
    * group g is (ref bins ∪ g's bins), absent sides take eps, terms
    * are the same pure-integer micro12 terms (scalar
    * [[graft.functions.DetMath.lnRatioFpBig]] over exact rationals);
    * the per-group PSI keeps the float read (psi = Σterm / 1e12).
    *
    * Scale shape: BOTH corpora collapse to bin-count aggregates
    * distributed (map-side combinable, keyed on bin / (group, bin) —
    * bounded by value-range/width × day count, never row counts);
    * ONLY those bounded tables collect, and the groups × bins term
    * grid is evaluated DRIVER-SIDE with the scalar integer kernel —
    * identical to [[psi]]'s Column form. Inlining the ~200-op lnq
    * tree into a per-row projection made PLANNING+codegen the cost
    * (26 s for a ~30-row trend at sf0.1 — the same pathology measured
    * and fixed for [[graft.ext.Sampling.temperatureAllocate]]); the
    * collect is the IVF-centroid class of bounded driver state.
    *
    * The bound is DATA-dependent (value-range/width × groups), so —
    * like [[Similarity.bruteForceTopK]]'s query-side contract — it is
    * ENFORCED at runtime: each collect short-circuits at
    * `maxGridCells` rows and fails loudly naming the scale paths (a
    * coarser `width`, or per-group [[psi]] which never collects bins)
    * instead of silently materializing an unbounded grid on the
    * driver.
    */
  def psiTrend(
      ref: DataFrame, cur: DataFrame, valueCol: String, groupCol: String,
      width: Long, eps: Double = 1e-6,
      maxGridCells: Int = 1 << 21): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    val epsDen = math.round(1.0 / eps)
    require(epsDen >= 1 && 1.0 / epsDen.toDouble == eps,
      s"eps must be an exact reciprocal 1/N (rational contract): $eps")
    def boundedCollect(df: DataFrame, what: String) = {
      val rows = df.limit(maxGridCells + 1).collect()
      require(rows.length <= maxGridCells,
        s"psiTrend $what exceeds maxGridCells=$maxGridCells — the " +
          "driver-side term grid is for BOUNDED bin universes; use a " +
          "coarser `width`, or run Drift.psi per group (fully " +
          "distributed, never collects bins)")
      rows
    }
    val spark = cur.sparkSession
    val bin = floor(col(valueCol) / lit(width.toDouble)).cast("long")
    val refBins = boundedCollect(
      ref.filter(col(valueCol).isNotNull)
        .groupBy(bin.as("bin")).agg(count(lit(1)).as("n_ref")),
      "reference bin table")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nr = refBins.valuesIterator.sum
    val curRows = boundedCollect(
      cur.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol), bin.as("bin"))
        .agg(count(lit(1)).as("n_cur")),
      "(group, bin) table")
    // Same per-side bound [[psi]] enforces: the a = qn·pd / c = pn·qd
    // products below are Long multiplies, and past 2^31-per-factor a
    // wrapped (non-ANSI) product can land back INSIDE the ln kernel's
    // accepted [1, 2^61) domain — silently wrong PSI instead of a loud
    // require. 2^30 per side (and per epsDen) caps products at 2^60.
    require(epsDen <= (1L << 30),
      s"psiTrend eps too fine for exact Long terms: 1/$epsDen")
    require(nr <= (1L << 30),
      s"psiTrend reference side too large for exact Long terms: $nr")
    val out = curRows.groupBy(_.get(0)).toSeq.map { case (g, rows) =>
      val curBins = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      val nc = curBins.valuesIterator.sum
      require(nc <= (1L << 30),
        s"psiTrend group '$g' too large for exact Long terms: $nc")
      val bins = refBins.keySet ++ curBins.keySet
      // THE same exact scalar term as [[psi]]'s expression — one
      // implementation, so trend rows and the pair alarm can never
      // disagree by a quantization ulp. BigInt accumulator: a Long
      // sum can overflow past ~2·10⁵ bins.
      var terms = BigInt(0)
      bins.foreach { b =>
        terms += BigInt(graft.functions.DetMath.psiTermMicro12(
          refBins.getOrElse(b, 0L), curBins.getOrElse(b, 0L),
          nr, nc, epsDen))
      }
      org.apache.spark.sql.Row(
        g, terms.toDouble / 1e12, bins.size.toLong, nr, nc)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      cur.schema(groupCol),
      org.apache.spark.sql.types.StructField(
        "psi", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(
        "n_bins", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "n_ref", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "n_cur", org.apache.spark.sql.types.LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, schema)
  }

  /** Jensen–Shannon divergence between two CATEGORICAL distributions,
    * in nats — the drift test for label/source/language mixes where
    * PSI's log-ratio blows up on empty categories: JSD is defined for
    * any pair of distributions (a category absent on one side
    * contributes only the other side's half-KL term), symmetric, and
    * bounded by ln 2. Output one row: (n_ref, n_cur, n_cats, jsd).
    *
    *   JSD = ½·KL(P‖M) + ½·KL(Q‖M),  M = ½(P+Q)
    *
    * Determinism: P, Q, M are ratios of exact integer counts; the
    * half-KL logs are [[graft.functions.DetMath.lnq]] (bit-identical
    * cross-engine — see [[psi]]); an absent side feeds the DUMMY
    * input 1.0 to its log (lnq(1) = exactly 0, and its proportion
    * factor is exactly 0.0, so the term vanishes bit-exactly without
    * a CASE around the log — the log input must stay positive, CASE
    * or not, because the chain is evaluated unconditionally in the
    * SQL mirror); each term is floor-quantized to 12 dp (⌊x·10¹²⌋ —
    * a JSD half-KL term can be negative; floor is still tie-free and
    * engine-exact) and summed as exact DECIMAL integers — the
    * [[psi]] discipline — then the JSD is the integer sum ÷ 10¹².
    *
    * Scale shape: both sides collapse to per-category counts in ONE
    * union-tagged aggregate (map-side combinable, keyed on the
    * category — bounded by distinct categories, not rows); totals ride
    * a one-row broadcast; the term sum is a second tiny aggregate.
    */
  def jsDivergence(
      ref: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    val tagged = ref.select(col(catCol).as("__c"),
      lit(1L).as("__r"), lit(0L).as("__q"))
      .unionAll(cur.select(col(catCol).as("__c"),
        lit(0L).as("__r"), lit(1L).as("__q")))
    val perCat = tagged.groupBy(col("__c"))
      .agg(sum(col("__r")).as("__cr"), sum(col("__q")).as("__cq"))
    val totals = perCat.agg(
      sum(col("__cr")).as("n_ref"), sum(col("__cq")).as("n_cur"),
      count(lit(1)).as("n_cats"))
    val p = col("__cr").cast("double") / col("n_ref").cast("double")
    val q = col("__cq").cast("double") / col("n_cur").cast("double")
    val m = (p + q) / lit(2.0)
    // 0·ln(0/m) := 0 — an absent side has proportion exactly 0.0 and
    // its log gets the dummy input 1.0 (lnq(1) = exactly 0).
    val xa = when(col("__cr") > 0, p / m).otherwise(lit(1.0))
    val xb = when(col("__cq") > 0, q / m).otherwise(lit(1.0))
    val term = floor((
      p * graft.functions.DetMath.lnq(xa) / lit(2.0) +
        q * graft.functions.DetMath.lnq(xb) / lit(2.0)
      ) * lit(1e12)).cast("decimal(20,0)")
    perCat.crossJoin(broadcast(totals))
      .groupBy(col("n_ref"), col("n_cur"), col("n_cats"))
      .agg((sum(term).cast("double") / lit(1e12)).as("jsd"))
      .select(col("n_ref"), col("n_cur"), col("n_cats"), col("jsd"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic
    * D = sup_x |F_a(x) − F_b(x)| — the binning-free drift test: PSI
    * needs a bin design and misses shape changes inside a bin; KS
    * compares the full empirical CDFs. Output one row:
    * (n_a, n_b, ks_d).
    *
    * Scale shape: both samples collapse to per-distinct-value counts
    * (one value-keyed aggregate — map-side combinable), then BOTH
    * cumulative counts accumulate over the value order in ONE
    * distributed prefix pass ([[graft.plans.Prefix.withRunningSums]] —
    * range partition + carry offsets, never a single-partition
    * window; the naive `Window.orderBy(v)` form is the classic
    * 100 TB killer this engine refuses everywhere). D is a plain max
    * aggregate over the per-value |ΔCDF|.
    *
    * Determinism: cumulative counts are exact integers; each CDF
    * difference is one IEEE divide/subtract from exact integers —
    * identical in any engine — and D is floor-quantized to 6 dp
    * (⌊x·10⁶⌋ ÷ 10⁶, tie-free; round()-on-double is the cross-engine
    * HALF_UP trap).
    */
  def ksStatistic(
      a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val tagged = a.select(col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("__v"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionAll(
        b.select(col(valueCol).as("__v"))
          .filter(col("__v").isNotNull)
          .select(col("__v"), lit(0L).as("__a"), lit(1L).as("__b")))
    val perValue = tagged
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    val cum = graft.plans.Prefix.withRunningSums(
      perValue, Seq(col("__v")),
      Seq("__ca" -> "__cuma", "__cb" -> "__cumb"))
    val totals = perValue.agg(
      sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val dMax = max(abs(
      col("__cuma").cast("double") / col("n_a").cast("double") -
        col("__cumb").cast("double") / col("n_b").cast("double")))
    cum.crossJoin(broadcast(totals))
      .groupBy(col("n_a"), col("n_b"))
      .agg((floor(dMax * lit(1e6)).cast("double") / lit(1e6)).as("ks_d"))
      .select(col("n_a"), col("n_b"), col("ks_d"))
  }

  /** Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) with midrank
    * ties and normal approximation — the rank-based complement of
    * [[ksStatistic]]: KS asks "did the distribution change shape?",
    * Mann–Whitney asks "did one sample stochastically dominate?", and
    * being rank-based it survives the heavy tails that invalidate a
    * t/z test on means.
    *
    * Scale shape (the KS discipline): both samples collapse to
    * per-distinct-value counts; ONE distributed prefix pass
    * ([[graft.plans.Prefix.withRunningSum]]) accumulates the combined
    * cumulative count over the value order (never a single-partition
    * window); the rank-sum, tie term, and totals are one aggregate.
    *
    * Determinism: the doubled midrank of a tie group,
    * 2·cumBefore + cnt + 1, is an exact INTEGER, so the doubled
    * rank-sum R2 = Σ ca·midrank2 and the tie term T = Σ(t³−t) are
    * exact DECIMAL sums — no float order sensitivity. U = (R2 −
    * n_a(n_a+1))/2 halves an exact value (division by 2 is exact in
    * IEEE); the z statistic
    *
    *   z = (U − n_a·n_b/2) / √( n_a·n_b/12 · ((n+1) − T/(n(n−1))) )
    *
    * is straight-line double arithmetic on those exact values —
    * bit-identical in any engine — floor-quantized to 6 dp (tie-free,
    * unlike round(); see [[psi]]).
    *
    * Output one row: (n_a, n_b, u_a, z); z is null when either sample
    * is empty or the tie-corrected variance is 0 (all values equal).
    */
  def mannWhitney(
      a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val tagged = a.select(col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("__v"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionAll(
        b.select(col(valueCol).as("__v"))
          .filter(col("__v").isNotNull)
          .select(col("__v"), lit(0L).as("__a"), lit(1L).as("__b")))
    val perValue = tagged
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
      .withColumn("__cnt", col("__ca") + col("__cb"))
    val cum = graft.plans.Prefix.withRunningSum(
      perValue, Seq(col("__v")), "__cnt", "__cum")
    // Doubled midrank of the tie group at this value: ranks cumBefore+1
    // .. cumBefore+cnt average to cumBefore+(cnt+1)/2; doubling keeps it
    // integral. cumBefore = cum − cnt.
    val midrank2 =
      (lit(2L) * (col("__cum") - col("__cnt")) + col("__cnt") + lit(1L))
        .cast("decimal(38,0)")
    val cnt = col("__cnt").cast("decimal(38,0)")
    val agg = cum.agg(
      sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"),
      sum(col("__ca").cast("decimal(38,0)") * midrank2).as("__r2"),
      sum(cnt * cnt * cnt - cnt).as("__t"))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val n = nA + nB
    val uA = (col("__r2").cast("double") - nA * (nA + 1.0)) / 2.0
    val variance =
      nA * nB / 12.0 * ((n + 1.0) - col("__t").cast("double") / (n * (n - 1.0)))
    val z = (uA - nA * nB / 2.0) / sqrt(variance)
    agg.select(
      col("n_a"), col("n_b"), uA.as("u_a"),
      when(col("n_a") > 0 && col("n_b") > 0 && variance > 0.0,
        floor(z * lit(1e6)) / lit(1e6)).as("z"))
  }

  /** Exact ROC AUC of a score column, via the rank identity
    *
    *   AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻) = U⁺ / (n⁺·n⁻)
    *
    * — AUC IS the Mann–Whitney U of the positive sample normalized by
    * the pair count, so this inherits [[mannWhitney]]'s whole
    * discipline for free: per-distinct-score counts, ONE distributed
    * prefix pass, exact integer midrank moments, no sort of the row
    * stream and no per-threshold sweep (the textbook trapezoid over
    * thresholds is this same number computed slower).
    *
    * The model-evaluation primitive for every scorer this engine
    * feeds: quality scores, language-ID confidence, dedup similarity
    * as a duplicate classifier.
    *
    * Determinism: u_a is exact (midranks); the normalization is one
    * IEEE division by the exact pair count, floor-quantized to 6 dp.
    *
    * Output one row: (n_pos, n_neg, auc); auc null when either class
    * is empty.
    */
  def rocAuc(
      positives: DataFrame, negatives: DataFrame,
      scoreCol: String): DataFrame = {
    mannWhitney(positives, negatives, scoreCol)
      .select(
        col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("u_a") /
            (col("n_a").cast("double") * col("n_b").cast("double")) *
            lit(1e6)) / lit(1e6)).as("auc"))
  }
}
