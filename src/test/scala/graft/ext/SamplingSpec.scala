package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0L until 1000L)
    .map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "fr",
      (i * 37) % 500))
    .toDF("doc_id", "lang", "score")

  /** A deterministic ~`pct`% of rows: the flat [[Sampling.hashGate]]. */
  private def hashSample(
      df: org.apache.spark.sql.DataFrame, keyCol: String, pct: Int) =
    df.filter(Sampling.hashGate(col(keyCol), lit(pct)))

  test("hashSample is deterministic and near the requested rate") {
    val a = hashSample(docs, "doc_id", 30)
      .select("doc_id").as[Long].collect().toSet
    val b = hashSample(docs, "doc_id", 30)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    // md5 is uniform: 1000 keys at 30% ± a loose binomial bound
    assert(a.size > 230 && a.size < 370, s"got ${a.size}")
  }

  test("largestRemainderAllocate: allocations sum exactly to target, " +
    "equal weights tie-break by key, quotas are floor+remainder") {
    import org.apache.spark.sql.functions.col
    val eq = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("k", "w")
    val out = Sampling.largestRemainderAllocate(eq, "k", "w", target = 10L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    // 10/3: base 3 each, one remainder -> lowest key gets it.
    assert(out === Map("a" -> 4L, "b" -> 3L, "c" -> 3L))

    val skew = Seq(("a", 7L), ("b", 2L), ("c", 1L)).toDF("k", "w")
    val out2 = Sampling.largestRemainderAllocate(skew, "k", "w", 101L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    // quotas 70.7 / 20.2 / 10.1 -> bases 70/20/10, one leftover to the
    // largest fraction (a: .7)
    assert(out2 === Map("a" -> 71L, "b" -> 20L, "c" -> 10L))
    assert(out2.values.sum === 101L)
  }

  test("curriculumOrder interleaves strata best-first, round-robin") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.1),
      (4L, "b", 0.8), (5L, "b", 0.6))
      .toDF("doc_id", "source", "score")
    val out = Sampling.curriculumOrder(d, "source", "doc_id", "score")
      .orderBy(col("curriculum_pos"))
      .select("doc_id").as[Long].collect().toList
    // rank1: a->1, b->4; rank2: a->2, b->5; rank3: a->3.
    assert(out === List(1L, 4L, 2L, 5L, 3L))
  }

  test("dsirWeights: target-vocabulary docs outscore raw-vocabulary " +
    "docs, weights match the scalar model, partition-invariant") {
    import org.apache.spark.sql.functions.col
    // Disjoint vocabularies: target docs speak "alpha beta", raw docs
    // "gamma delta"; two probe docs in the raw pool, one per dialect.
    val rows =
      (0L until 10L).map(i => (i, "alpha beta alpha beta", true)) ++
      (10L until 20L).map(i => (i, "gamma delta gamma delta", false)) ++
      Seq((100L, "alpha beta alpha beta", false),
          (101L, "gamma delta gamma delta", false))
    val docs = rows.toDF("doc_id", "text", "is_tgt")
    val out = Sampling.dsirWeights(docs, "doc_id", "text",
      col("is_tgt"), numBuckets = 32)
      .select("doc_id", "weight_q").as[(Long, Long)].collect().toMap
    assert(out(100L) > out(101L),
      s"target-dialect probe must outscore raw-dialect probe: $out")
    // Scalar model: same buckets (md5 prefix % 32), same smoothing,
    // same lnq, same floor quantization.
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 32
    }
    val toks = rows.flatMap { case (_, text, tgt) =>
      text.split(" ").map(t => (bucket(t), tgt))
    }
    val ct = toks.filter(_._2).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cr = toks.filterNot(_._2).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val (tt, tr) = (toks.count(_._2).toLong, toks.count(!_._2).toLong)
    def lam(b: Long): Long = math.floor(graft.functions.DetMath.lnqDouble(
      ((ct.getOrElse(b, 0L) + 1) * (tr + 32)).toDouble /
        ((tt + 32) * (cr.getOrElse(b, 0L) + 1)).toDouble) * 1e9).toLong
    val expect100 = "alpha beta alpha beta".split(" ")
      .map(t => lam(bucket(t))).sum
    assert(out(100L) === expect100)
    val out7 = Sampling.dsirWeights(docs.repartition(7), "doc_id", "text",
      col("is_tgt"), numBuckets = 32)
      .select("doc_id", "weight_q").as[(Long, Long)].collect().toMap
    assert(out7 === out)
  }

  test("tokenBudgetSelect keeps exactly the maximal whole-doc prefix " +
    "of the order and is partition-invariant") {
    import org.apache.spark.sql.functions.col
    val d = (0L until 100L)
      .map(i => (i, (i * 13) % 50 + 1, ((i * 7) % 97).toDouble))
      .toDF("doc_id", "n_tokens", "score")
      .withColumn("n_tokens", col("n_tokens").cast("long"))
    val budget = 400L
    val kept = Sampling.tokenBudgetSelect(
      d, Seq(col("score").desc, col("doc_id")), "n_tokens", budget)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    // Model: sequential scan in (score desc, id) order.
    val ordered = d.as[(Long, Long, Double)].collect()
      .sortBy { case (id, _, s) => (-s, id) }
    var cum = 0L
    val expect = ordered.flatMap { case (id, n, s) =>
      cum += n
      if (cum <= budget) Some((id, n, s, cum)) else None
    }
    assert(kept.toList === expect.toList)
    assert(kept.last._4 <= budget)
    // The NEXT doc in order would have burst the budget (maximality).
    val keptIds = kept.map(_._1).toSet
    val next = ordered.find { case (id, _, _) => !keptIds.contains(id) }
    assert(next.exists { case (_, n, _) => kept.last._4 + n > budget })
    // Partition invariance: same kept set from a different layout.
    val kept1 = Sampling.tokenBudgetSelect(
      d.repartition(7), Seq(col("score").desc, col("doc_id")),
      "n_tokens", budget)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(kept1.toList === kept.toList)
  }

  test("hashSample is monotone in pct: 10% subset of 40% subset of 100%") {
    val p10 = hashSample(docs, "doc_id", 10).select("doc_id").as[Long].collect().toSet
    val p40 = hashSample(docs, "doc_id", 40).select("doc_id").as[Long].collect().toSet
    val p100 = hashSample(docs, "doc_id", 100).select("doc_id").as[Long].collect().toSet
    assert(p10.subsetOf(p40))
    assert(p40.subsetOf(p100))
    assert(p100.size === 1000)
    assert(hashSample(docs, "doc_id", 0).count() === 0)
  }

  test("stratifiedHashSample applies per-stratum rates") {
    val out = Sampling.stratifiedHashSample(
      docs, "doc_id", "lang", Map("en" -> 100, "es" -> 0), defaultPct = 50)
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === 334)         // all en rows kept
    assert(!byLang.contains("es"))       // none
    val fr = byLang("fr")
    assert(fr > 120 && fr < 215, s"fr=$fr") // ~50% of 333
    // stratum gate uses the SAME hash as the flat gate
    val flat = hashSample(docs.filter($"lang" === "fr"), "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter($"lang" === "fr").select("doc_id").as[Long].collect().toSet === flat)
  }

  test("splitAssign: disjoint, exhaustive, consistent with the gate") {
    val out = Sampling.splitAssign(docs, "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(out.values.sum === 1000)
    assert(out("train") > 700 && out("train") < 880)
    assert(out("val") > 50 && out("val") < 160)
    assert(out("test") > 50 && out("test") < 160)
    // the train split is EXACTLY the 80% hash sample (same gate)
    val train = Sampling.splitAssign(docs, "doc_id")
      .filter($"split" === "train").select("doc_id").as[Long].collect().toSet
    val gate80 = hashSample(docs, "doc_id", 80)
      .select("doc_id").as[Long].collect().toSet
    assert(train === gate80)
  }

  test("quotaCap matches the window row_number reference plan") {
    val expected = docs
      .withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"score".desc, $"doc_id".asc)))
      .filter($"rank" <= 7)
      .select($"lang", $"doc_id", $"score".cast("double"), $"rank".cast("long"))
      .as[(String, Long, Double, Long)].collect().toSet
    val got = Sampling.quotaCap(docs, Seq("lang"), "score", "doc_id", 7)
      .select($"lang", $"doc_id", $"score", $"rank")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(got === expected)
  }

  test("quotaCap: ties break by id asc; groups smaller than n kept whole") {
    val tied = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0), ("a", 4L, 1.0),
      ("b", 9L, 2.0))
      .toDF("g", "id", "s")
    val got = Sampling.quotaCap(tied, Seq("g"), "s", "id", 2)
      .select($"g", $"id", $"rank").as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 9L, 1L)))
  }

  test("TopKAgg as a window function: eval is non-destructive") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 7.0), ("b", 9L, 2.0))
      .toDF("g", "id", "s")
    // WindowExec calls eval repeatedly on one shared buffer — a
    // destructive eval would return the top-k once and [] afterwards.
    val out = df.withColumn("top",
      graft.functions.TopKAgg.topK($"s", $"id", 2)
        .over(Window.partitionBy($"g")))
      .select($"id", $"top.id")
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L) === Seq(2L, 3L))
    assert(out(2L) === Seq(2L, 3L)) // every row of the group sees the same top-k
    assert(out(3L) === Seq(2L, 3L))
    assert(out(9L) === Seq(9L))
  }

  test("TopKAgg skips NaN scores instead of corrupting the heap") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, Double.NaN), ("a", 3L, 3.0))
      .toDF("g", "id", "s")
    val got = Sampling.quotaCap(df, Seq("g"), "s", "id", 2)
      .select($"id", $"rank").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L), (1L, 2L)))
  }

  test("TopKAgg survives partial/merge across many partitions") {
    val big = spark.range(0, 10000, 1, 16)
      .select($"id", ($"id" % 97).cast("double").as("s"), lit("g").as("g"))
    val got = Sampling.quotaCap(big, Seq("g"), "s", "id", 5)
      .select($"id", $"s", $"rank").as[(Long, Double, Long)].collect().toSet
    // score 96.0 is the max; smallest ids with that score win
    assert(got === Set((96L, 96.0, 1L), (193L, 96.0, 2L),
      (290L, 96.0, 3L), (387L, 96.0, 4L), (484L, 96.0, 5L)))
  }

  test("weightedSample is reproducible and matches the window-rank contract") {
    val df = spark.range(0, 500)
      .select($"id", (($"id" % 7) + 1).cast("double").as("w"))
    val fast = Sampling.weightedSample(df, "id", "w", 50)
      .as[(Long, Double, Long)].collect().toSet
    val again = Sampling.weightedSample(df, "id", "w", 50)
      .as[(Long, Double, Long)].collect().toSet
    // brute force: same priority formula, ranked by a global window
    val u = (graft.functions.HashExprs.md5Prefix60($"id".cast("string"))
      % 1000000L + lit(0.5)) / lit(1000000.0)
    val brute = df
      .withColumn("priority", round(log(u) / $"w", 9))
      .withColumn("rank", row_number().over(
        Window.orderBy($"priority".desc, $"id".asc)))
      .filter($"rank" <= 50)
      .select($"id", $"priority", $"rank")
      .as[(Long, Double, Long)].collect().toSet
    assert(fast == again && fast == brute && fast.size == 50)
  }

  test("weightedSample favors heavy rows and excludes zero/null weights") {
    val df = spark.range(0, 100).select($"id",
      when($"id" < 40, 1000.0)            // heavy: priority ~ -1e-5
        .when($"id" < 80, 0.001)          // light: priority ~ -1e4
        .when($"id" < 90, 0.0)            // zero mass: excluded
        .otherwise(lit(null).cast("double")) // null: excluded
        .as("w"))
    val got = Sampling.weightedSample(df, "id", "w", 40)
      .as[(Long, Double, Long)].collect().map(_._1).toSet
    // all 40 heavy rows outrank every light row; excluded rows never appear
    assert(got == (0L until 40L).toSet)
  }

  test("weightedSampleByGroup draws independently per stratum") {
    val df = spark.range(0, 300).select($"id",
      concat(lit("s"), ($"id" % 3).cast("string")).as("src"),
      (($"id" % 5) + 1).cast("double").as("w"))
    val out = Sampling.weightedSampleByGroup(df, Seq("src"), "id", "w", 7)
      .as[(String, Long, Double, Long)].collect()
    assert(out.length == 21)
    // per-group result equals the global weightedSample run on just
    // that stratum (independence of the draws)
    val s0 = df.filter($"src" === "s0")
    val solo = Sampling.weightedSample(s0, "id", "w", 7)
      .as[(Long, Double, Long)].collect().toSet
    val grouped = out.filter(_._1 == "s0").map(t => (t._2, t._3, t._4)).toSet
    assert(grouped == solo)
  }

  test("weightedSample aggregates (map-side bounded) instead of windowing") {
    val df = spark.range(0, 100).select($"id", lit(1.0).as("w"))
    val plan = Sampling.weightedSample(df, "id", "w", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("temperatureMixSample flattens the source distribution toward sqrt") {
    // 4 strata with counts 6400/1600/400/100 (sqrt weights 80/40/20/10)
    val rows = Seq(("a", 6400), ("b", 1600), ("c", 400), ("d", 100))
      .flatMap { case (s, n) => (0 until n).map(i => (s, s.hashCode.toLong * 100000 + i)) }
    val df = rows.toDF("src", "id")
    val out = Sampling.temperatureMixSample(df, "src", "id", targetTotal = 1000L)
      .collect()
    val rates = out.map(r => r.getAs[String]("src") -> r.getAs[Long]("keep_rate_micro"))
      .toMap
    // targets ~ 1000 * w/W: a=533, b=266, c=133, d=66 -> rates
    // monotonically INCREASE as strata shrink (the flattening)
    assert(rates("a") < rates("b") && rates("b") < rates("c") &&
      rates("c") < rates("d"), rates.toString)
    // d is upsampled relative to proportional: 66/100 vs 1000/8500
    assert(rates("d") > 600000L)
    // kept counts land near the sqrt-proportional targets
    val kept = out.groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    assert(math.abs(kept("a") - 533) < 80, kept.toString)
    assert(math.abs(kept("d") - 66) < 25, kept.toString)
    // deterministic: same call, same rows
    val again = Sampling.temperatureMixSample(df, "src", "id", 1000L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again === out.map(_.getAs[Long]("id")).toSet)
  }

  test("leakageSafeSplit: no pair straddles splits; unpaired matches splitAssign") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chains 0-1-2, 10-11, and a 4-cycle 20..23; everything else unpaired
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L))
      .toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(d, "doc_id", pairs, "id_a", "id_b")
      .select($"doc_id", $"split_key", $"split")
      .as[(Long, Long, String)].collect()
    assert(out.length === 200)
    val byId = out.map(t => t._1 -> t).toMap
    // every component shares one split_key (the min id) and one split
    for (comp <- Seq(Seq(0L, 1L, 2L), Seq(10L, 11L), Seq(20L, 21L, 22L, 23L))) {
      val rows = comp.map(byId)
      assert(rows.map(_._2).distinct === Seq(comp.min), s"keys for $comp")
      assert(rows.map(_._3).distinct.length === 1, s"splits for $comp")
    }
    // unpaired docs key on themselves and agree with plain splitAssign
    val plain = Sampling.splitAssign(d, "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    for (i <- 30L until 200L) {
      assert(byId(i)._2 === i)
      assert(byId(i)._3 === plain(i))
    }
  }

  test("trainManifest: epoch counts bracket the allocation, train_pos " +
    "is a permutation, deterministic and partition-invariant") {
    // source a: 20 docs x 10 tokens; source b: 5 docs x 4 tokens.
    val d = ((0L until 20L).map(i => ("a", i, 10L)) ++
      (100L until 105L).map(i => ("b", i, 4L)))
      .toDF("source", "doc_id", "n_tokens")
    val out = Sampling.trainManifest(d, "source", "doc_id", "n_tokens", 500L)
      .as[(String, Long, Long, Long, Long)].collect()
    // per-doc epochs are contiguous 1..copies and copies is base or
    // base+1 within each source
    val byDoc = out.groupBy(_._2)
    byDoc.foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toList === (1L to rows.length.toLong).toList)
    }
    val copiesBySource = out.groupBy(_._1).map { case (s, rows) =>
      s -> rows.groupBy(_._2).map(_._2.length).toSet
    }
    copiesBySource.foreach { case (s, set) =>
      assert(set.size <= 2, s"copies in $s spread: $set")
      if (set.size == 2) assert(set.max - set.min === 1)
    }
    // global order is a 1..N permutation
    assert(out.map(_._5).sorted.toList === (1L to out.length.toLong).toList)
    // deterministic + partition-invariant
    val again = Sampling.trainManifest(
      d.repartition(16), "source", "doc_id", "n_tokens", 500L)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._5).toList === out.sortBy(_._5).toList)
  }

  test("trainManifest: tokens delivered per source track the " +
    "apportioned allocation") {
    val d = ((0L until 20L).map(i => ("a", i, 10L)) ++
      (100L until 105L).map(i => ("b", i, 4L)))
      .toDF("source", "doc_id", "n_tokens")
    // weights: a ~ floor(sqrt(200)*1e6)=14142135, b ~ floor(sqrt(20)*1e6)
    // = 4472135; target 500 -> quotas 379.92../120.07..; largest
    // remainder gives a=380, b=120.
    val tokens = Sampling.trainManifest(d, "source", "doc_id", "n_tokens", 500L)
      .groupBy("source").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    // a: base epoch 1 (380/200), fractional 90% of docs get a 2nd copy;
    // delivered tokens land within one whole-doc quantum spread of the
    // 380-token allocation under the md5 gate (binomial, 20 keys).
    assert(tokens("a") >= 200L && tokens("a") <= 400L)
    // b: base epoch 6 (120/20), no fraction -> exactly 120.
    assert(tokens("b") === 120L)
  }

  test("lengthBucketReport: power-of-two buckets, caps, exact padding") {
    val d = Seq(1L, 2L, 3L, 5L, 9L, 200L, 0L).toDF("n_tokens")
    val out = Sampling.lengthBucketReport(d, "n_tokens", maxLen = 8)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // 0-token rows dropped; 9 and 200 cap into the 8 bucket at 8 tokens
    assert(out.keySet === Set(1L, 2L, 4L, 8L))
    assert(out(1L) === ((1L, 1L, 1L, 1L, 0L, 0.0)))
    assert(out(4L) === ((4L, 1L, 3L, 4L, 1L, 0.25)))
    assert(out(8L) === ((8L, 3L, 21L, 24L, 3L, 0.125)))
  }

  test("exactKSample: exact size, deterministic, hash-minimal members") {
    val d = (0L until 500L).map(i => (i, s"payload $i")).toDF("doc_id", "p")
    val out = Sampling.exactKSample(d, "doc_id", 25)
      .select("doc_id", "sample_hash").as[(Long, Long)].collect()
    assert(out.length === 25)
    // members are exactly the 25 smallest hashes over the full key set
    val all = d.select(col("doc_id"),
      graft.functions.HashExprs.md5Prefix60(col("doc_id").cast("string")))
      .as[(Long, Long)].collect()
    val expect = all.sortBy(t => (t._2, t._1)).take(25).toList
    assert(out.sortBy(t => (t._2, t._1)).toList === expect)
    val again = Sampling.exactKSample(d.repartition(16), "doc_id", 25)
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.map(_._1).toSet)
  }

  test("temperatureAllocate: sums to target; T=1 ~ proportional, " +
    "large T ~ uniform") {
    val counts = Seq(("a", 6400L), ("b", 1600L), ("c", 100L))
      .toDF("src", "n")
    def alloc(t: Double) = Sampling
      .temperatureAllocate(counts, "src", "n", target = 1000L, t)
      .select("src", "alloc").as[(String, Long)].collect().toMap
    val t1 = alloc(1.0)
    assert(t1.values.sum === 1000L)
    // T=1: weights ~ n -> ~ proportional 790/197/12
    assert(t1("a") > 750L && t1("c") < 30L, s"$t1")
    val t100 = alloc(100.0)
    assert(t100.values.sum === 1000L)
    // T=100: n^(0.01) nearly flat -> every source near 333
    assert(t100.values.forall(v => v > 300L && v < 370L), s"$t100")
    // T=2 matches the sqrt weights of the dedicated T=2 path
    val t2 = alloc(2.0)
    val w2 = counts.select($"src",
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.sqrt($"n".cast("double")) * 1e6)
        .cast("long").as("w"))
    val direct = Sampling.largestRemainderAllocate(w2, "src", "w", 1000L)
      .select("src", "alloc").as[(String, Long)].collect().toMap
    // expq(lnq(n)/2) and IEEE sqrt agree to ~1e-13 relative; the
    // floor-quantized micro-weights may differ by 1 ulp-of-grid, so
    // allocations agree within 1 token per source.
    t2.foreach { case (k, v) =>
      assert(math.abs(v - direct(k)) <= 1L, s"$k: $v vs ${direct(k)}")
    }
  }

  test("cappedAllocate: exact target when feasible, caps never " +
    "breached, shortfall visible when infeasible") {
    val strata = Seq(
      ("a", 10L, 5L), ("b", 10L, 100L), ("c", 10L, 100L))
      .toDF("k", "w", "cap")
    val out = Sampling.cappedAllocate(strata, "k", "w", "cap", 35L)
      .select("k", "capped", "alloc").as[(String, Boolean, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // a's proportional share 35/3 > 5 -> capped at 5; 30 splits 15/15
    assert(out === Map(
      "a" -> ((true, 5L)), "b" -> ((false, 15L)), "c" -> ((false, 15L))))

    // uncappable target: everything caps, shortfall visible
    val all = Sampling.cappedAllocate(strata, "k", "w", "cap", 10000L)
      .select("capped", "alloc").as[(Boolean, Long)].collect()
    assert(all.forall(_._1))
    assert(all.map(_._2).sum === 205L)

    // non-binding caps reduce to plain Hamilton apportionment
    val loose = Seq(("a", 7L, 999L), ("b", 2L, 999L), ("c", 1L, 999L))
      .toDF("k", "w", "cap")
    val got = Sampling.cappedAllocate(loose, "k", "w", "cap", 101L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    val plain = Sampling.largestRemainderAllocate(
      loose, "k", "w", 101L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    assert(got === plain)
  }

  test("cappedAllocate: cascade where capping one source caps the " +
    "next; total still exact") {
    // b is generous only until a caps; then b's share overflows too.
    val strata = Seq(
      ("a", 50L, 1L), ("b", 30L, 9L), ("c", 20L, 1000L))
      .toDF("k", "w", "cap")
    val out = Sampling.cappedAllocate(strata, "k", "w", "cap", 40L)
      .select("k", "capped", "alloc").as[(String, Boolean, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // shares: a 20 >= 1 cap; then b: (40-1)*30 >= 9*(30+20)? 1170 >=
    // 450 -> capped at 9; c takes the remaining 30.
    assert(out === Map(
      "a" -> ((true, 1L)), "b" -> ((true, 9L)), "c" -> ((false, 30L))))
    assert(out.values.map(_._2).sum === 40L)
  }

  test("heldOutPerplexity scores only test docs and matches the " +
    "scalar model incl. the unseen-term reserved mass") {
    val docs = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) s"alpha beta gamma tok$i" else "alpha beta gamma"))
      .toDF("doc_id", "text")
    def bucket(k: Long): Long = graft.functions.Md5Ops.prefix60(
      k.toString.getBytes("UTF-8")) % 100
    val trainIds = (0L until 40L).filter(bucket(_) < 80).toSet
    val out = Vocab.heldOutPerplexity(docs, "doc_id", "text", 80)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === (0L until 40L).toSet.diff(trainIds))
    // scalar model
    val trainToks = (0L until 40L).filter(trainIds)
      .flatMap(i => (if (i % 4 == 0) s"alpha beta gamma tok$i"
        else "alpha beta gamma").split(" "))
    val counts = trainToks.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    val m = trainToks.size.toLong + counts.size.toLong + 1L
    def lam(t: String): Long = math.floor(
      graft.functions.DetMath.lnqDouble(
        m.toDouble / (counts.getOrElse(t, 0L) + 1L).toDouble) * 1e9).toLong
    out.keySet.foreach { id =>
      val toks = (if (id % 4 == 0) s"alpha beta gamma tok$id"
        else "alpha beta gamma").split(" ")
      val sq = toks.map(lam).sum
      val surp = (sq.toDouble / 1e9) / toks.length.toDouble
      assert(out(id)._3 === surp, s"doc $id")
      assert(out(id)._4 ===
        graft.functions.DetMath.expqDouble(surp), s"doc $id ppl")
    }
  }

  test("cappedAllocate properties over randomized strata: exact total " +
    "when feasible, caps never breached, capped-iff-prefix") {
    val rnd = new scala.util.Random(42)
    (1 to 25).foreach { trial =>
      val n = 2 + rnd.nextInt(8)
      val strata = (0 until n).map { i =>
        (s"s$i", 1L + rnd.nextInt(1000).toLong, rnd.nextInt(500).toLong)
      }
      val target = rnd.nextInt(2000).toLong
      val out = Sampling.cappedAllocate(
        strata.toDF("k", "w", "cap"), "k", "w", "cap", target)
        .select("k", "capped", "alloc")
        .as[(String, Boolean, Long)].collect()
      val byK = out.map(r => r._1 -> r).toMap
      val caps = strata.map(s => s._1 -> s._3).toMap
      out.foreach { case (k, capped, alloc) =>
        assert(alloc >= 0L, s"trial $trial $k")
        assert(alloc <= caps(k), s"trial $trial $k alloc=$alloc")
        if (capped) assert(alloc === caps(k), s"trial $trial $k")
      }
      val total = out.map(_._3).sum
      val capSum = strata.map(_._3).sum
      assert(total === math.min(target, capSum),
        s"trial $trial: $total vs min($target, $capSum)")
      assert(byK.size === n)
    }
  }

  test("leakageSafeSplit honors non-default split percentages") {
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(
      docs, "doc_id", pairs, "id_a", "id_b", trainPct = 60, valPct = 20)
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    // hash split: proportions approximate but a 60/20/20 request must
    // NOT come back 80/10/10 (train would be ~320 under the old bug)
    assert(counts("train") < 300L, counts.toString)
    assert(counts("val") > 40L && counts("test") > 40L, counts.toString)
  }

  test("largestRemainderAllocate fails loudly on zero total weight") {
    val w = Seq(("a", 0L), ("b", 0L)).toDF("k", "w")
    val e = intercept[Exception] {
      Sampling.largestRemainderAllocate(w, "k", "w", 100L).collect()
    }
    assert(e.getMessage.contains("total weight"), e.getMessage)
  }

  test("quotaCap rejects non-integral ids loudly instead of silently " +
    "dropping every row") {
    val docs = Seq(("urlA", "s", 1.0), ("urlB", "s", 2.0))
      .toDF("doc_id", "source", "quality")
    val e = intercept[Exception] {
      Sampling.quotaCap(docs, Seq("source"), "quality", "doc_id", 1).collect()
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }
}
