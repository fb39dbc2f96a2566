package graft.ext

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessionizeBatch splits on the gap and aggregates per session") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 1L, ts("2024-01-01 10:10:00"), 2.0),
      (3L, 1L, ts("2024-01-01 11:30:00"), 4.0), // > 30 min gap -> session 2
      (4L, 2L, ts("2024-01-01 10:00:00"), 8.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = Analytics.sessionizeBatch(ev)
      .select("user_id", "session_id", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)))
  }

  test("enrich keeps unmatched events (left join) and resolves nation names") {
    val ev = Seq((1L, "click", 5.0, 7L), (2L, "view", 6.0, 999L))
      .toDF("event_id", "event_type", "value", "user_id")
    val cust = Seq((7L, "Alice", 1, "AUTO")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val nation = Seq((1, "FRANCE")).toDF("n_nationkey", "n_name")
    val out = Analytics.enrich(ev, cust, nation)
      .select("event_id", "c_name", "n_name")
      .as[(Long, Option[String], Option[String])].collect().toSet
    assert(out === Set(
      (1L, Some("Alice"), Some("FRANCE")), (2L, None, None)))
  }

  test("topKByValue returns k rows ordered by total with id tiebreak") {
    val ev = (1 to 30).map(i => (i.toLong % 5, 1.0))
      .toDF("user_id", "value")
    val out = Analytics.topKByValue(ev, 3).collect()
    assert(out.length === 3)
    val totals = out.map(_.getAs[Double]("total_value"))
    assert(totals.sorted.reverse.toSeq === totals.toSeq)
  }

  test("histogramQuantiles interpolates exactly on a uniform histogram") {
    // values 0..99, width 10: bins 0..9 of 10 each. r(p) = p*99; the
    // uniform in-bin interpolation reproduces quantile_cont exactly.
    val df = (0 until 100).map(i => i.toDouble).toDF("v")
    val out = Analytics.histogramQuantiles(df, "v", width = 10.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def expected(p: Double): Double = {
      val r = p * 99
      val bin = (r / 10.0).toInt // uniform bins: rank r sits in bin r/10
      math.floor((bin * 10.0 + 10.0 * ((r - bin * 10) / 10.0)) * 1e6) / 1e6
    }
    assert(out("p50") == (4L, expected(0.5)))
    assert(out("p90") == (8L, expected(0.9)))
    assert(out("p99") == (9L, expected(0.99)))
    assert(out("p50")._2 == 49.5)
  }

  test("histogramQuantiles estimate stays within one bin width of exact") {
    val df = (1 to 5000).map(i => ("g", (i % 97).toDouble)).toDF("k", "v")
    val exact = Analytics.valueQuantiles(
        df, Seq("k"), "v", Seq("p50" -> 0.5, "p90" -> 0.9))
      .select("p50", "p90").as[(Double, Double)].head()
    val hist = Analytics.histogramQuantiles(
        df, "v", width = 8.0, Seq("p50" -> 0.5, "p90" -> 0.9))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(hist("p50") - exact._1) <= 8.0)
    assert(math.abs(hist("p90") - exact._2) <= 8.0)
  }

  test("histogramQuantiles CDF is a prefix-sum plan, not a single-partition window") {
    val df = (0 until 1000).map(i => i.toDouble).toDF("v")
    val plan = Analytics.histogramQuantiles(df, "v", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), s"unexpected window:\n$plan")
  }

  test("histogramQuantilesByGroup matches the ungrouped estimator per " +
    "group and is partition-invariant") {
    val df = ((0 until 100).map(i => ("a", i.toDouble)) ++
      (0 until 60).map(i => ("b", (i * 3).toDouble))).toDF("k", "v")
    val grouped = Analytics.histogramQuantilesByGroup(
        df, Seq("k"), "v", width = 10.0,
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    for (g <- Seq("a", "b")) {
      val solo = Analytics.histogramQuantiles(
          df.filter($"k" === g), "v", width = 10.0,
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      for (p <- Seq("p50", "p90", "p99"))
        assert(grouped((g, p)) === solo(p), s"$g/$p")
    }
    val many = Analytics.histogramQuantilesByGroup(
        df.repartition(13), Seq("k"), "v", width = 10.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    val one = Analytics.histogramQuantilesByGroup(
        df.repartition(1), Seq("k"), "v", width = 10.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    assert(many === one)
  }

  test("eventTransitions counts ordered per-user bigrams, ties broken by id") {
    val ev = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "b", ts("2024-01-01 00:01:00"), 2L),
      (1L, "a", ts("2024-01-01 00:02:00"), 3L),
      // u2: same-timestamp tie — event_id order decides a->b, not b->a
      (2L, "a", ts("2024-01-01 00:00:00"), 4L),
      (2L, "b", ts("2024-01-01 00:00:00"), 5L),
      // u3: single event, no transitions
      (3L, "a", ts("2024-01-01 00:00:00"), 6L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Analytics.eventTransitions(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("winsorize clips to the group percentile band, passes inliers bit-exact") {
    // group g: values 1..100 -> p05/p95 interpolate to 5.95 / 95.05
    val df = (1 to 100).map(i => (i.toLong, "g", i.toDouble))
      .toDF("event_id", "event_type", "value")
    val out = Analytics.winsorize(df, Seq("event_type"), "value", 0.05, 0.95)
      .select("event_id", "value_clipped").as[(Long, Double)].collect().toMap
    assert(out(1L) == 5.95)    // clipped up
    assert(out(100L) == 95.05) // clipped down
    assert(out(50L) == 50.0)   // inlier untouched
  }

  test("coOccurrencePairs normalizes pairs, dedups within basket, applies support") {
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), // dup item in basket counts once
      (2L, 10L), (2L, 20L),
      (3L, 20L), (3L, 10L),            // reversed insert order, same pair
      (4L, 30L), (4L, 40L)             // support 1 -> filtered
    ).toDF("order_id", "part_id")
    val out = Analytics.coOccurrencePairs(li, "order_id", "part_id", minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((10L, 20L, 3L)))
  }

  test("zscoreOutliers flags exactly the rows beyond the threshold, deterministically") {
    // group g: 100 values at 10.0 + one at 1000 -> the 1000 is >> 3 sd out
    val base = (1L to 100L).map(i => (i, "g", 10.0 + (i % 3) * 0.5))
    val ev = (base :+ ((999L, "g", 1000.0))).toDF("event_id", "event_type", "value")
    val out = Analytics.zscoreOutliers(ev, Seq("event_type"), "value", 3.0)
    assert(out.select("event_id").as[Long].collect().toSet == Set(999L))
    // broadcast-join shape: no Window operator in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("linearTrend recovers an exact linear relationship per group") {
    val ref = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val usPerDay = 86400000000L
    // g1: y = 5 + 2*day (exact fit); g2: constant time -> singular
    val rows =
      (0 to 4).map { k =>
        ("g1", new java.sql.Timestamp((ref + k * usPerDay) / 1000L),
          5.0 + 2.0 * k)
      } ++ Seq(
        ("g2", new java.sql.Timestamp(ref / 1000L), 1.0),
        ("g2", new java.sql.Timestamp(ref / 1000L), 9.0))
    val df = rows.toDF("event_type", "ts", "value")
    val out = Analytics.linearTrend(
        df, Seq("event_type"), "ts", "value", ref)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out("g1") == ((5L, Some(2.0), Some(5.0))))
    // zero time variance: null fit, not NaN
    assert(out("g2") == ((2L, None, None)))
  }

  test("linearTrend is one aggregate pass — no window, no join") {
    val df = Seq(("a", new java.sql.Timestamp(0L), 1.0))
      .toDF("event_type", "ts", "value")
    val plan = Analytics.linearTrend(df, Seq("event_type"), "ts", "value", 0L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("percentRank matches SQL PERCENT_RANK semantics including ties") {
    val df = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(20L)),
      (4L, Some(30L)), (5L, None)).toDF("id", "v")
    val out = Analytics.percentRank(df, "v", "pr")
      .select("id", "pr").as[(Long, Double)].collect().toMap
    // N=4 non-null rows: ranks 1, 2, 2, 4 -> (r-1)/3
    assert(out == Map(
      1L -> 0.0, 2L -> 0.333333, 3L -> 0.333333, 4L -> 1.0))
  }

  test("percentRank returns 0.0 for a single-row input") {
    val df = Seq((1L, 42L)).toDF("id", "v")
    val out = Analytics.percentRank(df, "v", "pr")
      .select("pr").as[Double].collect().toSeq
    assert(out == Seq(0.0))
  }

  test("percentRank plans no single-partition global window") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val plan = Analytics.percentRank(df, "v", "pr")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
  }

  test("madOutliers flags far points the z-score detector would mask") {
    // median 5.5, MAD 2.5 -> robust_z(100) = 94.5/(1.4826*2.5) ~ 25.5
    val df = ((1 to 9).map(i => (i.toLong, "a", Some(i.toDouble))) :+
      (10L, "a", Some(100.0)) :+ (11L, "a", None))
      .toDF("event_id", "event_type", "value")
    val out = Analytics.madOutliers(df, Seq("event_type"), "value", 3.0)
      .select("event_id", "group_median", "group_mad", "robust_z")
      .as[(Long, Double, Double, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(10L))
    val (_, med, mad, z) = out.head
    assert(med === 5.5 && mad === 2.5)
    assert(math.abs(z - 94.5 / (1.4826 * 2.5)) < 1e-5)
  }

  test("madOutliers MAD=0 group: any off-median value is flagged, z null") {
    val df = Seq((1L, "b", 5.0), (2L, "b", 5.0), (3L, "b", 5.0),
      (4L, "b", 5.0), (5L, "b", 7.0)).toDF("event_id", "event_type", "value")
    val out = Analytics.madOutliers(df, Seq("event_type"), "value", 3.0)
      .select("event_id", "robust_z").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(5L))
    assert(out.head.isNullAt(1))
  }

  test("quantileNormalize maps a shifted distribution onto the reference") {
    // target = reference + 100: after normalization the marginal must
    // match the reference's scale (order preserved, ends pinned)
    val ref = (1 to 200).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val tgt = (1 to 200).map(i => (i.toLong, i.toDouble + 100)).toDF("id", "v")
    val out = Analytics.quantileNormalize(tgt, "v", ref, "v")
      .select("v", "normalized").as[(Double, Double)].collect().sortBy(_._1)
    // monotone in the input
    assert(out.sliding(2).forall { case Array(a, b) => a._2 <= b._2 })
    // ends land on the reference's ends, not the target's
    assert(math.abs(out.head._2 - 1.0) < 1.1)
    assert(math.abs(out.last._2 - 200.0) < 1.1)
    // mid-range within one grid cell (range/20) of the identity map
    out.foreach { case (v, n) =>
      assert(math.abs(n - (v - 100)) <= 200.0 / 20 + 1e-6, s"$v -> $n") }
  }

  test("topKWithOther: tail collapses into a labeled remainder") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(4)("b") ++ Seq.fill(3)("c") ++
      Seq("d", "e", "f")).toDF("cat")
    val out = Analytics.topKWithOther(df, "cat", k = 2)
      .as[(String, Long, Boolean)].collect().toSet
    assert(out === Set(("a", 5L, false), ("b", 4L, false), ("(other)", 6L, true)))
    // counts total preserved — nothing silently dropped
    assert(out.toSeq.map(_._2).sum === 15L)
  }

  test("topKWithOther: boundary ties break by category asc") {
    val df = (Seq.fill(3)("b") ++ Seq.fill(3)("a") ++ Seq.fill(3)("c") ++
      Seq("z")).toDF("cat")
    val out = Analytics.topKWithOther(df, "cat", k = 2)
      .as[(String, Long, Boolean)].collect().toSet
    assert(out === Set(("a", 3L, false), ("b", 3L, false), ("(other)", 4L, true)))
  }

  test("topKWithOther plans NO window — heap selection survives high cardinality") {
    // 3000 distinct categories: a global rank window would shuffle the
    // whole aggregated frame to one task; the heap contract is ≤ k
    // entries per map task regardless of cardinality.
    val df = (1 to 3000).flatMap(i =>
      Seq.fill(i % 7 + 1)(s"cat_$i")).toDF("cat")
    val q = Analytics.topKWithOther(df, "cat", k = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window found:\n$plan")
    // matches the brute-force reference
    val counts = df.as[String].collect().groupBy(identity)
      .map { case (c, xs) => (c, xs.length.toLong) }
    val top = counts.toSeq.sortBy { case (c, n) => (-n, c) }.take(5)
    val expectTop = top.map { case (c, n) => (c, n, false) }.toSet
    val otherSum = counts.values.sum - top.map(_._2).sum
    val got = q.as[(String, Long, Boolean)].collect().toSet
    assert(got === expectTop + (("(other)", otherSum, true)))
  }

  test("gini: perfectly even values give 0, extreme concentration near 1") {
    val even = (1L to 10L).map(i => (i, 5.0)).toDF("id", "v")
    val g0 = Analytics.gini(even, "v", "id").select("gini").as[Double].head()
    assert(g0 === 0.0)
    // one key holds everything: G = (n-1)/n = 0.9
    val conc = ((1L to 9L).map(i => (i, 0.0)) :+ (10L, 100.0)).toDF("id", "v")
    val g1 = Analytics.gini(conc, "v", "id").select("gini").as[Double].head()
    assert(g1 === 0.9)
  }

  test("gini hand case and partition invariance") {
    // x = {1,2,3,4}: G = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("id", "v")
    assert(Analytics.gini(df, "v", "id")
      .select("gini").as[Double].head() === 0.25)
    val big = (1L to 999L).map(i => (i, (i * 37 % 101).toDouble)).toDF("id", "v")
    val one = Analytics.gini(big.repartition(1), "v", "id")
      .select("gini").as[Double].head()
    val many = Analytics.gini(big.repartition(16), "v", "id")
      .select("gini").as[Double].head()
    assert(one === many)
  }

  test("topKPerGroup keeps k rows per group with deterministic tie-break") {
    val df = Seq(
      ("g1", 1L, 10.0), ("g1", 2L, 30.0), ("g1", 3L, 20.0), ("g1", 4L, 30.0),
      ("g2", 5L, 1.0))
      .toDF("g", "id", "v")
    val out = Analytics.topKPerGroup(df, Seq("g"), "v", Seq("id"), 2)
      .select("g", "id", "rank").as[(String, Long, Long)].collect().toSet
    // g1: 30.0 tie between id 2 and 4 -> id asc wins rank 1
    assert(out === Set(("g1", 2L, 1L), ("g1", 4L, 2L), ("g2", 5L, 1L)))
  }

  test("topKPerGroup plans a WindowGroupLimit (map-side k-prune)") {
    // needs maxRows > k: InferWindowGroupLimit skips unprunable inputs
    val df = (1 to 20).map(i => (s"g${i % 3}", i.toLong, i * 1.0))
      .toDF("g", "id", "v")
    val plan = Analytics.topKPerGroup(df, Seq("g"), "v", Seq("id"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no rank-limit pushdown:\n$plan")
  }

  test("keySkewProfile: exact skew stats with deterministic top key") {
    // key 7 has 3 rows, keys 1,2 have 1 each: max=3, n=5, k=3
    val df = Seq(7L, 7L, 7L, 1L, 2L).toDF("k")
    val out = Analytics.keySkewProfile(df, Seq("k"))
      .as[(String, Long, Long, Long, Double, Double, Double, String)].head()
    val (kc, n, nk, mx, _, avg, ratio, top) = out
    assert(kc === "k" && n === 5L && nk === 3L && mx === 3L)
    assert(avg === 1.666667) // round(5/3, 6)
    assert(ratio === 1.8)    // 3 / (5/3)
    assert(top === "7")
  }

  test("keySkewProfile ties on count break by largest key string") {
    val df = Seq(10L, 10L, 9L, 9L).toDF("k")
    val top = Analytics.keySkewProfile(df, Seq("k"))
      .select("top_key").as[String].head()
    assert(top === "9") // string order: "9" > "10"
  }

  test("madOutliers broadcasts stats — no per-group window in the plan") {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("event_id", "event_type", "value")
    val plan = Analytics.madOutliers(df, Seq("event_type"), "value", 3.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }

  test("associationRules computes support/confidence/lift from basket counts") {
    // b1{x,y} b2{x,y} b3{x,z} b4{y}; the duplicate (b1,x) row must not
    // double-count. minPairCount 2 keeps only the x↔y pair.
    val df = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y")
    ).toDF("basket", "item")
    val out = Analytics.associationRules(df, "basket", "item", 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    assert(out.keySet == Set(("x", "y"), ("y", "x")))
    // support 2/4, confidence 2/3, lift 2·4/(3·3) — floor-quantized
    val conf = math.floor(2.0 / 3.0 * 1e6) / 1e6
    val lift = math.floor(8.0 / 9.0 * 1e6) / 1e6
    assert(out(("x", "y")) == ((2L, 3L, 3L, 0.5, conf, lift)))
    assert(out(("y", "x")) == ((2L, 3L, 3L, 0.5, conf, lift)))
  }

  test("audienceOverlap computes Jaccard/overlap and keeps empty pairs") {
    // seg a: {1,2,3}; seg b: {2,3,4}; seg c: {9} (disjoint from both).
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 3L),
      ("b", 2L), ("b", 3L), ("b", 4L),
      ("c", 9L)
    ).toDF("seg", "uid")
    val out = Analytics.audienceOverlap(df, "seg", "uid")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // |a∩b| = 2, |a∪b| = 4, min = 3 — duplicate (a,3) not double-counted
    assert(out(("a", "b")) ==
      ((3L, 3L, 2L, 0.5, math.floor(2.0 / 3.0 * 1e6) / 1e6)))
    assert(out(("a", "c"))._3 == 0L && out(("a", "c"))._4 == 0.0)
  }

  test("associationRules broadcasts item counts — no shuffle join after pairs") {
    val df = (1 to 100).flatMap(b => Seq((b.toLong, "a"), (b.toLong, "b")))
      .toDF("basket", "item")
    val plan = Analytics.associationRules(df, "basket", "item", 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("joinCardinality predicts the exact join size without joining") {
    val a = Seq(1L, 1L, 1L, 2L, 3L, 9L).toDF("k")
    val b = Seq(1L, 1L, 2L, 2L, 2L, 4L).toDF("j")
    val out = Analytics.joinCardinality(a, "k", b, "j")
      .as[(Long, Long, Long, String)].head()
    // key 1: 3x2=6, key 2: 1x3=3 -> 9 rows over 2 matching keys
    assert(out === ((2L, 9L, 6L, "1")))
    // ground truth via the actual join
    assert(a.join(b, a("k") === b("j")).count() === 9L)
  }

  test("mixShift: exact micro shares, growth-vs-share divergence " +
    "visible, vanished and new categories covered") {
    val prev = (Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("x"))
      .toDF("cat")
    val cur = (Seq.fill(90)("a") ++ Seq.fill(100)("b") ++ Seq.fill(10)("c"))
      .toDF("cat")
    val out = Analytics.mixShift(prev, cur, "cat")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // a: grows 60->90 rows but share falls 600000 -> 450000
    assert(out("a") === (("a", 60L, 90L, 30L, 600000L, 450000L, -150000L)))
    assert(out("b") === (("b", 30L, 100L, 70L, 300000L, 500000L, 200000L)))
    // x vanished, c is new
    assert(out("x") === (("x", 10L, 0L, -10L, 100000L, 0L, -100000L)))
    assert(out("c") === (("c", 0L, 10L, 10L, 0L, 50000L, 50000L)))
  }
}
