package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Batch analytics over the event stream: gaps-and-islands
  * sessionization, dimension enrichment, top-k. North-star extensions
  * (the reference has no joins, sessions, or rankings — §2.7).
  */
object Analytics {

  /** Batch sessionization via gaps-and-islands: a new session starts
    * when the previous event of the same user is more than `gap` ago.
    * Both windows are partitioned per user — parallelism = users, state
    * = one partition's rows; no global sort anywhere.
    */
  def sessionizeBatch(
      events: DataFrame, gapExpr: String = "INTERVAL 30 MINUTES"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      lag(col("ts"), 1).over(w).isNull ||
        col("ts") > lag(col("ts"), 1).over(w) + expr(gapExpr),
      1).otherwise(0)
    events
      .withColumn("__new_s", newSession)
      .withColumn("session_id",
        sum(col("__new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** Dimension enrichment: events joined to customer and nation. Both
    * dimension tables are broadcast — the fact stream is never shuffled.
    */
  def enrich(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    events
      .join(broadcast(customer),
        events("user_id") === customer("c_custkey"), "left")
      .join(broadcast(nation),
        customer("c_nationkey") === nation("n_nationkey"), "left")
      .select(col("event_id"), col("event_type"), col("value"),
        col("c_name"), col("c_mktsegment"), col("n_name"))

  /** Sliding event-time windows in batch (1 h window, 15 min slide):
    * each event lands in window/slide = 4 windows; Spark's `window()`
    * generates them as a projection, so the only shuffle is the final
    * aggregation.
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Monthly revenue by priority: the classic fact-fact equi-join +
    * aggregate. orders is small enough to broadcast at test scale; at
    * 100 TB both sides shuffle on the join key and AQE picks the
    * strategy — the code declares only the join, not the plan.
    */
  def revenueMonthly(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // Pre-aggregate the fact side per order key first: the join becomes
    // 1:1, n_orders is a plain count (no countDistinct expand), and the
    // per-order partial sums shrink the shuffle to one row per order.
    // Decimal sums are exact and associative, so sum-of-sums equals the
    // oracle's single-level sum bit-for-bit.
    val perOrder = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .as("__rev"))
    perOrder
      .join(orders, perOrder("l_orderkey") === orders("o_orderkey"))
      // cast to DATE: Spark's date_trunc returns TIMESTAMP while
      // DuckDB's returns DATE for a DATE input — the one output-kind
      // mismatch left in the inventory after the HUGEINT class; the
      // driver's compare has tolerated it, but after this round's
      // export-type lesson the contract is: same kind on both sides.
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("order_month"),
        col("o_orderpriority"))
      .agg(
        sum(col("__rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Per-GROUP top-k: the k best rows of every group by
    * (`orderCol` desc, tie columns asc), with a dense 1-based `rank`.
    *
    * Deliberately a `row_number` window + rank filter, NOT a manual
    * heap: Spark ≥3.5 plans this as WindowGroupLimit, which keeps ≤ k
    * rows per group in each MAP task before the shuffle and again
    * after it — bounded-heap semantics for free, inside whole-stage
    * codegen (the plan shape is asserted in the spec; the global-top-k
    * [[graft.functions.TopKAgg]] remains for the no-group case where
    * there is no partition key to limit by). Ties must be broken by
    * `tieCols` into a total order or cross-engine ranks are undefined.
    */
  def topKPerGroup(
      df: DataFrame, groupCols: Seq[String], orderCol: String,
      tieCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(groupCols.nonEmpty, "topKPerGroup needs group columns")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol).desc +: tieCols.map(col(_).asc): _*)
    // Note: InferWindowGroupLimit consults child.maxRows and skips the
    // pushdown when k cannot prune (tiny known-size inputs) — absent on
    // real scans, so production plans always get the map-side k-prune.
    df
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Top-k keys by aggregated value: aggregate (partial+final), then
    * `orderBy.limit` → TakeOrderedAndProject: each partition keeps k
    * rows, the driver merges k·parts — no global sort at any scale.
    */
  def topKByValue(events: DataFrame, k: Int): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(round(sum(col("value")), 4).as("total_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("total_value").desc, col("user_id").asc)
      .limit(k)

  /** Exact per-group value quantiles (linear interpolation — the same
    * definition as DuckDB's `quantile_cont`, so results match
    * bit-for-bit after rounding).
    *
    * Scale note: exact percentile materializes each group's value
    * multiset on its reducer — fine while groups fit an executor (low-
    * cardinality groups over a value column, as here). For billion-row
    * groups swap `percentile` for `approx_percentile(c, p, accuracy)`
    * (t-digest-style mergeable sketch, constant memory) — same call
    * shape, bounded rank error instead of exactness.
    */
  def valueQuantiles(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      quantiles: Seq[(String, Double)] =
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    // ONE percentile aggregate over an array of probabilities: the
    // group's value multiset is buffered once for all quantiles (three
    // separate percentile() calls would buffer it three times).
    val ps = array(quantiles.map(q => lit(q._2)): _*)
    val outCols = groupCols.map(col) ++ quantiles.zipWithIndex.map {
      case ((name, _), i) => round(element_at(col("__qs"), i + 1), 6).as(name)
    }
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(valueCol), ps).as("__qs"))
      .select(outCols: _*)
  }

  /** The ORACLE-ABLE scale path of [[valueQuantiles]]: fixed-width-bin
    * histogram quantiles. One aggregate pass builds per-bin counts
    * (memory bounded by value-range / `width`, independent of row
    * count); cumulative bin counts come from [[graft.plans.Prefix]]'s
    * distributed prefix sum (never a single-partition window); each
    * requested quantile locates its bin and interpolates uniformly
    * within it.
    *
    * Against Spark's `approx_percentile`: its t-digest has tighter
    * rank error but its merge is partition-order-dependent —
    * impossible to oracle. Here every count is an exact integer, the
    * rank `r = p·(n−1)` and the interpolation
    * `binLo + width·(r − cumBefore)/cnt` are IEEE double ops on exact
    * integers — bit-identical in any engine — and the estimate is
    * floor-quantized to 6 dp. The bin location itself is exact, so the
    * estimator's error is bounded by `width` with zero cross-engine
    * ambiguity.
    *
    * Output: (label, bin, est) — one row per requested quantile.
    */
  def histogramQuantiles(
      df: DataFrame, valueCol: String, width: Double,
      quantiles: Seq[(String, Double)] =
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    require(quantiles.nonEmpty, "need at least one quantile")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df.filter(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / lit(width)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val cum = graft.plans.Prefix.withRunningSum(
      bins, Seq(col("bin")), "cnt", "cum")
    val tot = bins.agg(sum(col("cnt")).as("n"))
    val spine = quantiles.toDF("label", "p")
    val r = col("p") * (col("n") - lit(1L)).cast("double")
    val cumBefore = (col("cum") - col("cnt")).cast("double")
    val est = col("bin").cast("double") * lit(width) +
      lit(width) * ((r - cumBefore) / col("cnt").cast("double"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(spine))
      .filter(cumBefore <= r && r < col("cum").cast("double"))
      .select(col("label"), col("bin"),
        (floor(est * lit(1e6)) / lit(1e6)).as("est"))
  }

  /** Per-GROUP [[histogramQuantiles]] — the FLAGSHIP quantile path:
    * bounded memory at any group size (state per group = bins, i.e.
    * value-range / `width`, independent of row count), where
    * [[valueQuantiles]]'s exact `percentile` buffers each group's full
    * value multiset on its reducer and is safe ONLY under a documented
    * bounded-group contract. Same exact-integer determinism contract
    * as the ungrouped form: per-(group, bin) counts are exact; the
    * running cumulative count is a window over the BOUNDED bin table
    * (partitioned by group — never a single-partition window over the
    * row stream); rank and in-bin interpolation are IEEE double ops on
    * exact integers, floor-quantized to 6 dp.
    *
    * Output: (groupCols…, label, bin, est) — one row per group ×
    * requested quantile.
    */
  def histogramQuantilesByGroup(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      width: Double,
      quantiles: Seq[(String, Double)] =
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    require(groupCols.nonEmpty, "need at least one group column")
    require(quantiles.nonEmpty, "need at least one quantile")
    val spark = df.sparkSession
    import spark.implicits._
    val gCols = groupCols.map(col)
    val bins = df.filter(col(valueCol).isNotNull)
      .groupBy(gCols :+
        floor(col(valueCol) / lit(width)).cast("long").as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("bin"))
    val cum = bins.withColumn("cum", sum(col("cnt")).over(w))
    val tot = bins.groupBy(gCols: _*).agg(sum(col("cnt")).as("n"))
    val spine = quantiles.toDF("label", "p")
    val r = col("p") * (col("n") - lit(1L)).cast("double")
    val cumBefore = (col("cum") - col("cnt")).cast("double")
    val est = col("bin").cast("double") * lit(width) +
      lit(width) * ((r - cumBefore) / col("cnt").cast("double"))
    cum.join(tot, groupCols).crossJoin(broadcast(spine))
      .filter(cumBefore <= r && r < col("cum").cast("double"))
      .select(gCols ++ Seq(col("label"), col("bin"),
        (floor(est * lit(1e6)) / lit(1e6)).as("est")): _*)
  }

  /** First-order transition counts of the per-user event sequence (the
    * Markov-chain / clickstream matrix): for each user's events in
    * (`tsCol`, `tieCol`) order, count (state → next state) pairs.
    *
    * One shuffle on the user key (the lead window), then a standard
    * partial-aggregatable count on the (from, to) pair — no
    * self-join-on-sequence-number, which would shuffle the table twice.
    * `tieCol` must make the per-user order total, or lead() is
    * placement-dependent.
    */
  def eventTransitions(
      df: DataFrame, userCol: String, typeCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    df
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group winsorization: clip `valueCol` into its group's
    * [`pLo`, `pHi`] percentile band — the outlier-clipping step before
    * any scale-sensitive training statistic.
    *
    * Exact percentiles (DuckDB `quantile_cont` definition), rounded to
    * 6 dp BEFORE clipping so the band edges are cross-engine
    * deterministic; unclipped values pass through bit-exact. The tiny
    * per-group bound table broadcast-joins back (same no-hot-window
    * shape as [[zscoreOutliers]]).
    */
  def winsorize(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      pLo: Double, pHi: Double, outCol: String = "value_clipped"): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0, s"bad band: [$pLo, $pHi]")
    val bounds = df
      .filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(percentile(col(valueCol), array(lit(pLo), lit(pHi))).as("__qs"))
      .select(groupCols.map(col) :+
        round(element_at(col("__qs"), 1), 6).as("__lo") :+
        round(element_at(col("__qs"), 2), 6).as("__hi"): _*)
    df.join(broadcast(bounds), groupCols, "inner")
      .withColumn(outCol,
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Basket co-occurrence pairs (market-basket / co-purchase matrix):
    * normalized (item_a < item_b) pair counts across baskets, kept
    * when seen in at least `minCount` baskets.
    *
    * The self-join keys on the basket id, so both sides hash to the
    * SAME partitioning — one shuffle each, joined co-located. Pair
    * fan-out is k²/2 per basket (k = basket size): bounded for retail
    * baskets; for power-law baskets cap k upstream (quotaCap) before
    * the join, which no join strategy can do for you.
    */
  def coOccurrencePairs(
      df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long): DataFrame = {
    val a = df.select(col(basketCol).as("__b"), col(itemCol).as("item_a")).distinct()
    val b = df.select(col(basketCol).as("__b"), col(itemCol).as("item_b")).distinct()
    a.join(b, "__b")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minCount)
  }

  /** Association rules over the co-occurrence pairs: for every ordered
    * rule a→b whose pair support clears `minPairCount`, the classic
    * market-basket triple
    *
    *   support    = n_ab / N
    *   confidence = n_ab / n_a
    *   lift       = n_ab · N / (n_a · n_b)
    *
    * ("customers who bought a also bought b" — and, for an LLM corpus,
    * "documents containing shingle a also contain b", the co-occurrence
    * signal behind template detection).
    *
    * Scale shape: pair counts come from [[coOccurrencePairs]]'s
    * basket-keyed self-join (shuffle on basket, never all-pairs over
    * items); per-item basket counts and the basket total are
    * item-cardinality-bounded aggregates broadcast back onto the
    * (already `minPairCount`-thresholded) rule stream. No window, no
    * driver collect.
    *
    * Determinism: every input to the three ratios is an exact integer
    * count, each ratio is one IEEE double division (bit-identical in
    * any engine), floor-quantized to 6 dp (round() half-case
    * implementations differ across engines — see [[Drift.psi]]).
    *
    * Output: (antecedent, consequent, n_pair, n_ante, n_cons, support,
    * confidence, lift) — both directions of each unordered pair.
    */
  def associationRules(
      df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long): DataFrame = {
    val pairs = coOccurrencePairs(df, basketCol, itemCol, minPairCount)
    val rules = pairs.select(
        col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("n_baskets").as("n_pair"))
      .unionAll(pairs.select(
        col("item_b").as("antecedent"), col("item_a").as("consequent"),
        col("n_baskets").as("n_pair")))
    val itemCounts = df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
      .groupBy(col("__i")).agg(count(lit(1)).as("__n_item"))
    val total = df.agg(
      countDistinct(col(basketCol)).as("__n_baskets"))
    def q6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    rules
      .join(broadcast(itemCounts.withColumnRenamed("__i", "antecedent")
        .withColumnRenamed("__n_item", "n_ante")), Seq("antecedent"))
      .join(broadcast(itemCounts.withColumnRenamed("__i", "consequent")
        .withColumnRenamed("__n_item", "n_cons")), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select(
        col("antecedent"), col("consequent"), col("n_pair"),
        col("n_ante"), col("n_cons"),
        q6(col("n_pair").cast("double") / col("__n_baskets").cast("double"))
          .as("support"),
        q6(col("n_pair").cast("double") / col("n_ante").cast("double"))
          .as("confidence"),
        q6(col("n_pair").cast("double") * col("__n_baskets").cast("double") /
          (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
  }

  /** Audience-overlap matrix: for every unordered pair of segments,
    * the distinct-entity intersection and the Jaccard / overlap
    * coefficients — "how much of the click audience also purchases?",
    * and for corpus work "how much do these two source crawls share?".
    *
    * Scale shape: ONE distinct pass collapses to (segment, entity);
    * the pair counts come from an entity-keyed self-join (shuffle on
    * entity; per-entity fan-out is bounded by segment cardinality²,
    * and segment cardinality is small by contract — document callers
    * with high-cardinality segments should pre-bucket). Segment sizes
    * are a segment-cardinality-bounded aggregate; the zero-overlap
    * grid is re-introduced from the sizes table itself (a broadcast
    * cross of a tiny frame), so absent pairs report 0 rather than
    * vanishing.
    *
    * Determinism: counts are exact integers; Jaccard
    * n∩/(n_a+n_b−n∩) and overlap n∩/min(n_a,n_b) are single IEEE
    * divisions, floor-quantized to 6 dp ([[Drift.psi]] documents the
    * round()-on-double trap).
    *
    * Output: (seg_a, seg_b, n_a, n_b, n_both, jaccard, overlap) for
    * every pair with seg_a < seg_b.
    */
  def audienceOverlap(
      df: DataFrame, segmentCol: String, entityCol: String): DataFrame = {
    val su = df
      .filter(col(segmentCol).isNotNull && col(entityCol).isNotNull)
      .select(col(segmentCol).as("__s"), col(entityCol).as("__e"))
      .distinct()
    val sizes = su.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val both = su.select(col("__s").as("seg_a"), col("__e"))
      .join(su.select(col("__s").as("seg_b"), col("__e")), "__e")
      .filter(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("__nb"))
    val grid = broadcast(sizes
        .select(col("__s").as("seg_a"), col("__n").as("n_a")))
      .crossJoin(broadcast(sizes
        .select(col("__s").as("seg_b"), col("__n").as("n_b"))))
      .filter(col("seg_a") < col("seg_b"))
    def q6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val nBoth = coalesce(col("__nb"), lit(0L))
    grid.join(both, Seq("seg_a", "seg_b"), "left")
      .select(
        col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        nBoth.as("n_both"),
        q6(nBoth.cast("double") /
          (col("n_a") + col("n_b") - nBoth).cast("double")).as("jaccard"),
        q6(nBoth.cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap"))
  }

  /** Per-group z-score outliers: rows whose value sits more than
    * `threshold` sample standard deviations from the group mean.
    *
    * Scale + determinism shape: the per-group moments (n, Σv, Σv²) are
    * DECIMAL-exact sums — float partial aggregation order cannot
    * perturb them, so mean/std/z are bit-identical on any engine and
    * any partitioning. The tiny moment table broadcast-joins back onto
    * the stream; no Window (a per-group window would shuffle every row
    * of a hot group to one task).
    */
  def zscoreOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      threshold: Double): DataFrame = {
    val v = col(valueCol).cast("decimal(18,6)")
    val moments = df
      .filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("__n"),
        sum(v).cast("double").as("__s1"),
        sum(v * v).cast("double").as("__s2"))
      .withColumn("__mean", col("__s1") / col("__n"))
      .withColumn("__var",
        (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
          (col("__n") - 1))
      .withColumn("__std", sqrt(col("__var")))
    df.join(broadcast(moments), groupCols, "inner")
      .withColumn("z",
        round((col(valueCol) - col("__mean")) / col("__std"), 6))
      .filter(abs(col("z")) > threshold)
      .drop("__n", "__s1", "__s2", "__mean", "__var", "__std")
  }

  /** Per-group robust (MAD) outliers — the heavy-tail-safe sibling of
    * [[zscoreOutliers]]: mean/stddev are themselves dragged by the
    * outliers they're meant to find, while the median and the median
    * absolute deviation have a 50% breakdown point. A row is flagged
    * when |v − median| / (1.4826 · MAD) > `threshold` (1.4826 scales
    * MAD to σ-equivalents under normality, so `threshold` means the
    * same thing in both detectors).
    *
    * Determinism: median and MAD are exact interpolated percentiles
    * rounded to 6 dp (the [[winsorize]] convention), and the
    * robust-z score is rounded to 6 dp BEFORE the threshold compare —
    * the decide-on-rounded rule, so a boundary row lands the same side
    * in every engine. Groups with MAD = 0 (a majority-constant group:
    * any deviation is "infinitely" surprising) flag every row off the
    * median rather than dividing by zero — `robust_z` is null there.
    *
    * Scale shape: two grouped exact-percentile passes (medians, then
    * deviation medians) over group-keyed shuffles, each output one row
    * per group; both tiny tables broadcast back. No per-group Window —
    * a hot group would otherwise serialize through one task.
    */
  def madOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      threshold: Double): DataFrame = {
    val med = df
      .filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(round(percentile(col(valueCol), lit(0.5)), 6).as("__med"))
    val mad = df
      .filter(col(valueCol).isNotNull)
      .join(broadcast(med), groupCols, "inner")
      .groupBy(groupCols.map(col): _*)
      .agg(round(percentile(abs(col(valueCol) - col("__med")), lit(0.5)), 6)
        .as("__mad"))
    df.join(broadcast(med), groupCols, "inner")
      .join(broadcast(mad), groupCols, "inner")
      .withColumn("robust_z",
        when(col("__mad") > 0,
          round(abs(col(valueCol) - col("__med")) /
            (lit(1.4826) * col("__mad")), 6)))
      .filter(
        when(col("__mad") > 0, col("robust_z") > threshold)
          .otherwise(col(valueCol) =!= col("__med")))
      .withColumnRenamed("__med", "group_median")
      .withColumnRenamed("__mad", "group_mad")
  }

  /** Join-key skew profile — the "should I salt this join?" diagnostic,
    * one row per candidate key column: distinct-key count, max / p99 /
    * mean per-key row counts, and skew_ratio = max/mean. A ratio near 1
    * means hash partitioning will balance; a large ratio means the top
    * key serializes a shuffle task and the join wants salting
    * ([[graft.ops.SkewJoin]]) or AQE skew splitting. Run it BEFORE
    * committing a 100 TB join strategy, not after the straggler.
    *
    * top_key ties break on the largest key STRING (max over (cnt,
    * key-as-string) structs — a total order, so partial-aggregation
    * order can't flip it; the report column is a string anyway).
    *
    * Scale shape per column: one map-side-combinable count aggregate
    * keyed on the column, then a one-row aggregate over the per-key
    * counts (exact p99 percentile over n_keys values — bounded by key
    * cardinality, not row count). Profiles union at the end; each
    * column is an independent pass (they need different shuffle keys —
    * no single pass can share them).
    */
  def keySkewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    val profiles = keyCols.map { k =>
      df.groupBy(col(k)).agg(count(lit(1)).as("__c"))
        .agg(
          sum(col("__c")).as("__n"),
          count(lit(1)).as("n_keys"),
          max(col("__c")).as("max_cnt"),
          round(percentile(col("__c"), lit(0.99)), 6).as("p99_cnt"),
          max(struct(col("__c").as("c"), col(k).cast("string").as("k")))
            .as("__top"))
        .select(
          lit(k).as("key_col"),
          col("__n").cast("long").as("n_rows"),
          col("n_keys").cast("long").as("n_keys"),
          col("max_cnt").cast("long").as("max_cnt"),
          col("p99_cnt"),
          round(col("__n").cast("double") / col("n_keys").cast("double"), 6)
            .as("avg_cnt"),
          round(col("max_cnt").cast("double") * col("n_keys").cast("double") /
            col("__n").cast("double"), 6).as("skew_ratio"),
          col("__top.k").as("top_key"))
    }
    profiles.reduce(_ unionByName _)
  }

  /** Exact equi-join output cardinality WITHOUT executing the join —
    * the planning diagnostic a 100 TB pipeline runs before a join it
    * suspects of exploding: |A ⋈ B| = Σ_k cntA(k)·cntB(k), computed
    * from the two per-key count tables (each a map-side-combinable
    * aggregate, joined on the key — the count tables are
    * |distinct keys|-sized, not row-sized, so this costs two
    * aggregates + one small join instead of materializing a possibly
    * quadratic result). Also reports the worst single key (the row
    * [[keySkewProfile]] would send to the salted join) and matching
    * key count. One output row, all exact integers.
    */
  def joinCardinality(
      a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame = {
    val ca = a.filter(col(keyA).isNotNull).groupBy(col(keyA).as("__k"))
      .agg(count(lit(1)).as("__ca"))
    val cb = b.filter(col(keyB).isNotNull).groupBy(col(keyB).as("__k"))
      .agg(count(lit(1)).as("__cb"))
    // decimal product: two ~1e10-row hot keys give __ca*__cb ~ 1e20,
    // which wraps LongType silently (ANSI off) — garbage exactly for
    // the quadratic join this diagnostic exists to catch
    ca.join(cb, Seq("__k"))
      .select(col("__k"),
        (col("__ca").cast("decimal(19,0)") *
          col("__cb").cast("decimal(19,0)")).as("__prod"))
      .agg(
        count(lit(1)).as("n_matching_keys"),
        sum(col("__prod")).as("join_rows"),
        max(struct(col("__prod").as("p"), col("__k").cast("string").as("k")))
          .as("__top"))
      .select(
        col("n_matching_keys"),
        col("join_rows").cast("long").as("join_rows"),
        col("__top.p").cast("long").as("max_key_rows"),
        col("__top.k").as("max_key"))
  }

  /** Mix-shift decomposition — the period-over-period "why did the
    * corpus composition move" table: per category, previous and
    * current counts, the absolute delta, and both period SHARES at
    * exact micro quantization (trunc((n·10⁶)/total) — integer
    * arithmetic, so ΣΔshare ties out to 0 ± rounding and the table
    * is hash-exact). The reading: a category can GROW in rows yet
    * SHRINK in share — composition drift that raw deltas hide.
    *
    * Scale shape: one category-keyed count aggregate per period
    * (map-side combined), a full-outer join on the bounded category
    * table, one-row totals broadcast back.
    */
  def mixShift(
      prev: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    def counts(df: DataFrame, n: String) = df
      .filter(col(catCol).isNotNull)
      .groupBy(col(catCol)).agg(count(lit(1)).as(n))
    val p = counts(prev, "n_prev")
    val c = counts(cur, "n_cur")
    val joined = p.join(c, Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(
      sum(col("n_prev")).as("__tp"), sum(col("n_cur")).as("__tc"))
    def shareMicro(n: Column, t: Column) = {
      val num = n.cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)")
      ((num - num % t.cast("decimal(38,0)")) / t.cast("decimal(38,0)"))
        .cast("long")
    }
    joined.crossJoin(broadcast(totals))
      .select(col(catCol), col("n_prev"), col("n_cur"),
        (col("n_cur") - col("n_prev")).as("delta"),
        shareMicro(col("n_prev"), col("__tp")).as("share_prev_micro"),
        shareMicro(col("n_cur"), col("__tc")).as("share_cur_micro"))
      .withColumn("share_shift_micro",
        col("share_cur_micro") - col("share_prev_micro"))
  }

  /** Top-k categories with an "(other)" rollup — the honest version of
    * every pie chart: the k biggest categories by exact count keep
    * their names, the long tail collapses into one labeled remainder
    * instead of silently vanishing (the no-silent-caps rule applied to
    * reporting). Output ≤ k+1 rows: (category, n_rows, is_other).
    *
    * Determinism: top-k membership by the (count desc, category asc)
    * total order — selected by the bounded-heap
    * [[graft.functions.TopKAgg.topKStr]] aggregate (≤ k entries per
    * map task) rather than a global rank window, so a HIGH-cardinality
    * category column cannot turn the selection into the
    * single-partition WindowExec straggler. Null categories always
    * collapse into the other-bucket (the heap skips null ids; a null
    * join key matches nothing).
    */
  def topKWithOther(
      df: DataFrame, catCol: String, k: Int,
      otherLabel: String = "(other)"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val counts = df.groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_rows"))
    // counts < 2^53, so the double score is exact.
    val top = counts
      .agg(graft.functions.TopKAgg.topKStr(
        col("n_rows").cast("double"), col("category"), k).as("__top"))
      .select(explode(col("__top")).as("__e"))
      .select(col("__e.id").as("category"), lit(false).as("__in_top"))
    counts.join(broadcast(top), Seq("category"), "left")
      .select(
        when(col("__in_top").isNotNull, col("category"))
          .otherwise(lit(otherLabel)).as("category"),
        col("n_rows"),
        coalesce(col("__in_top"), lit(true)).as("is_other"))
      .groupBy(col("category"), col("is_other"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .select("category", "n_rows", "is_other")
  }

  /** Gini coefficient of `valueCol` — the one-number concentration
    * check: 0 = perfectly even, →1 = one key holds everything. Run it
    * on per-source document counts before training (is the corpus
    * dominated by one crawl?), on per-customer revenue, on per-key row
    * counts (a continuous sibling of [[keySkewProfile]]'s max/mean).
    *
    *   G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n,  x ascending, i = 1..n
    *
    * Scale + determinism shape: the rank comes from the distributed
    * global ordinal ([[graft.plans.Ordinal]] — range partition, never
    * a single-partition window; ties broken by `tieCol` into a total
    * order), and both Σx and Σi·x are exact DECIMAL sums (rank·value
    * products in DECIMAL(38,4) — overflow headroom to ~10¹⁸ rank·value
    * mass, far past any real corpus), so the closed form runs once on
    * exact integers/decimals and rounds to 6 dp. Nulls are excluded.
    */
  def gini(df: DataFrame, valueCol: String, tieCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,4)")
    val ranked = graft.plans.Ordinal.withGlobalRowNumber(
      df.filter(col(valueCol).isNotNull)
        .select(col(tieCol).as("__tie"), v.as("__v")),
      Seq(col("__v").asc, col("__tie").asc), "__i")
    ranked.agg(
      count(lit(1)).as("n"),
      sum(col("__v")).as("__s"),
      sum(col("__i").cast("decimal(20,0)") * col("__v")).as("__ws"))
      .select(
        col("n"),
        col("__s").cast("double").as("total"),
        round(
          lit(2.0) * col("__ws").cast("double") /
            (col("n").cast("double") * col("__s").cast("double")) -
            (col("n") + lit(1)).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
  }

  /** Per-group least-squares linear trend of `yCol` over event time —
    * "is this source's quality drifting?" as one aggregate pass.
    * Output: (groupCols..., n, slope_per_day, intercept), where
    * slope_per_day is the fitted change in y per 24 h and intercept is
    * the fitted y at `refEpochUs`.
    *
    * Same determinism contract as [[zscoreOutliers]] /
    * `Olap.correlationMatrix`: every regression moment (Σx, Σy, Σxx,
    * Σxy) is a DECIMAL-exact sum over integer microseconds (x is
    * re-based to `refEpochUs` — conditioning AND headroom: rebased
    * x² sums stay far inside decimal(38) at any corpus size) and the
    * closed form runs in double on those exact sums — partition order
    * cannot perturb the fit. Groups with a singular system (n < 2 or
    * zero time variance) yield null slope/intercept rather than NaN.
    */
  def linearTrend(
      df: DataFrame, groupCols: Seq[String], tsCol: String, yCol: String,
      refEpochUs: Long): DataFrame = {
    val x = (unix_micros(col(tsCol)) - lit(refEpochUs)).cast("decimal(18,0)")
    val y = col(yCol).cast("decimal(18,6)")
    val usPerDay = 86400e6
    val m = df
      .filter(col(tsCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("__sx"),
        sum(y).cast("double").as("__sy"),
        sum(x * x).cast("double").as("__sxx"),
        sum(x * y).cast("double").as("__sxy"))
    val denom = col("n") * col("__sxx") - col("__sx") * col("__sx")
    val slope = (col("n") * col("__sxy") - col("__sx") * col("__sy")) / denom
    m.withColumn("slope_per_day",
        when(denom =!= 0.0, round(slope * lit(usPerDay), 6)))
      .withColumn("intercept",
        when(denom =!= 0.0,
          round((col("__sy") - slope * col("__sx")) / col("n"), 6)))
      .drop("__sx", "__sy", "__sxx", "__sxy")
  }

  /** Global PERCENT_RANK over `valueCol` (SQL semantics: ties share
    * the rank of their first row; (rank-1)/(N-1); 0.0 when N = 1),
    * WITHOUT the single-partition global window that
    * `percent_rank().over(Window.orderBy(v))` plans — the quality-
    * percentile normalization step of a curation pipeline, over a
    * corpus where one task cannot hold the data.
    *
    * Shape: aggregate to one row per DISTINCT value (hash shuffle —
    * the only pass over the full corpus), run the distributed prefix
    * sum [[graft.plans.Prefix.withRunningSum]] over the value order
    * (range-partitioned, bounded per-task), and hash-join the tiny
    * rank table back. rank(v) = 1 + count of rows with smaller value
    * = cum(v) − count(v) + 1. Null values are excluded (engines
    * disagree on null placement in rank order).
    */
  def percentRank(
      df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull)
    val counts = rows
      .groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val summed = graft.plans.Prefix.withRunningSum(
      counts, Seq(col(valueCol)), "__c", "__cum")
    // One-row total, broadcast via a literal-free cross join.
    val total = summed.agg(sum(col("__c")).as("__n"))
    val ranks = summed.crossJoin(broadcast(total))
      .withColumn(outCol,
        when(col("__n") > 1,
          round((col("__cum") - col("__c")).cast("double") /
            (col("__n") - 1).cast("double"), 6))
          .otherwise(lit(0.0)))
      .select(col(valueCol), col(outCol))
    rows.join(ranks, Seq(valueCol))
  }

  /** Quantile normalization: map `valueCol`'s distribution onto a
    * REFERENCE distribution by rank — each row's percent-rank is
    * linearly interpolated into the reference's quantile grid. The
    * batch-effect remover of bioinformatics and the train-time
    * feature aligner ("score new data on last month's scale"):
    * after normalization the target's marginal distribution matches
    * the reference's, order preserved.
    *
    * Scale + determinism shape: the rank side is the distributed
    * [[percentRank]] (distinct-value prefix sums, no global window);
    * the reference collapses to a (gridSteps+1)-point exact-percentile
    * array — one row, driver-inlined as literals (the IVF-centroid
    * precedent: bounded by the parameter, never by data). The
    * interpolation runs entirely in EXACT DECIMAL (4-dp grid points,
    * 6-dp rank, exact products) — double interpolation was observed to
    * land within an ulp of a 6-dp rounding half, where Spark's
    * decimal-string ROUND and DuckDB's float-path ROUND disagree; with
    * decimals there is no ulp and exact halves round HALF_UP in both
    * engines. Output: input columns + percent-rank + normalized (6 dp).
    */
  def quantileNormalize(
      target: DataFrame, valueCol: String,
      ref: DataFrame, refValueCol: String,
      gridSteps: Int = 20): DataFrame = {
    require(gridSteps >= 1, s"gridSteps must be >= 1: $gridSteps")
    val probs = (0 to gridSteps).map(_.toDouble / gridSteps)
    val qRow = ref.filter(col(refValueCol).isNotNull)
      .agg(percentile(col(refValueCol),
        array(probs.map(lit(_)): _*)).as("__qs"))
      .head().getSeq[Double](0)
    // percentile() over zero rows returns null → a bare NPE on the
    // driver; an empty reference slice is a foreseeable caller input
    // and deserves a clear message.
    require(qRow != null,
      "quantileNormalize: reference frame has no non-null values in " +
        s"'$refValueCol' — cannot build a reference distribution")
    val qs = qRow.map(q =>
      BigDecimal(q).setScale(4, BigDecimal.RoundingMode.HALF_UP))
    val grid = array(qs.map(q =>
      lit(q.underlying).cast("decimal(14,4)")): _*)
    val ranked = percentRank(target, valueCol, "pr")
    val idx = col("pr").cast("decimal(18,6)") * lit(gridSteps)
    val lo = floor(idx).cast("int")
    val hi = least(lo + 1, lit(gridSteps))
    val frac = (idx - floor(idx)).cast("decimal(18,6)")
    def q(i: org.apache.spark.sql.Column) = element_at(grid, i + 1)
    ranked.withColumn("normalized",
      round(q(lo) + frac * (q(hi) - q(lo)), 6).cast("double"))
  }
}
