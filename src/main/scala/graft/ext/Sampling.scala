package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExprs

/** [EXT] Deterministic sampling for LLM training-data curation.
  * No reference equivalent (north-star extension per BASELINE.json).
  *
  * Random sampling (`df.sample`) is useless for a reproducible data
  * pipeline: re-runs must select the SAME rows, additions to the corpus
  * must not reshuffle previous selections, and an auditor must be able
  * to re-derive membership from the key alone. The standard answer is a
  * hash gate — `hash(key) mod 100 < pct` — which is a pure projection +
  * filter: zero shuffles, pushdown-friendly, identical on every engine
  * that can compute the hash.
  *
  * The hash is the portable [[graft.functions.Md5Ops]] (60 bits of
  * md5), so the gate is bit-identically computable in DuckDB:
  * `('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % 100`.
  */
object Sampling {

  /** True for ~`pct`% of keys, deterministically. `pct` may be any
    * integer Column in [0, 100] — a literal or a per-row expression
    * (see [[stratifiedHashSample]]).
    */
  def hashGate(key: Column, pct: Column): Column =
    (HashExprs.md5Prefix60(key.cast("string")) % 100) < pct

  /** Stratified deterministic sampling: each stratum (e.g. language,
    * source domain) gets its own keep-rate — the up/down-weighting step
    * of every corpus-mixing recipe.
    *
    * The rate table is compiled into a literal CASE expression:
    * codegen'd, no join, no shuffle. That is the right shape for the
    * handful-of-strata case (languages, top-level sources); for a rate
    * table with thousands of entries, broadcast-join a rates DataFrame
    * on `strataCol` instead and filter on the joined rate — same
    * zero-shuffle plan, data-driven rates.
    */
  def stratifiedHashSample(
      df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Int], defaultPct: Int): DataFrame = {
    require((defaultPct +: rates.values.toSeq).forall(p => p >= 0 && p <= 100),
      "pct out of range")
    // Fixed fold order (sorted keys) so the generated plan — and thus
    // codegen caching — is stable across calls with equal maps.
    val pctExpr = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, pct)) =>
        when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(hashGate(col(keyCol), pctExpr))
  }

  /** Deterministic train/val/test split assignment: the hash bucket in
    * [0,100) maps to a named split by cumulative range — train gets
    * [0, trainPct), val [trainPct, trainPct+valPct), test the rest.
    * Same portable hash as [[hashGate]], so membership is re-derivable
    * from the key alone, stable under corpus growth, and auditable
    * cross-engine. Pure projection: zero shuffles.
    */
  def splitAssign(
      df: DataFrame, keyCol: String,
      trainPct: Int = 80, valPct: Int = 10,
      outCol: String = "split"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    val bucket = HashExprs.md5Prefix60(col(keyCol).cast("string")) % 100
    df.withColumn(outCol,
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  /** Temperature-flattened source mixing (T = 2): per-stratum targets
    * proportional to √n_s instead of n_s — the standard corpus recipe
    * that up-weights small sources (languages, minor crawls) without
    * letting any giant source dominate the mix. Each stratum's keep
    * rate is min(1, target_s / n_s) with target_s = ⌊total·√n_s/Σ√n⌋,
    * applied as the same portable md5 gate as [[hashGate]] at
    * micro-rate (1e-6) resolution — membership stays re-derivable
    * from the key alone.
    *
    * Determinism across engines: √ is IEEE-correctly-rounded
    * everywhere, each √n_s floor-quantizes to exact integer
    * micro-units (≤10¹², exactly representable), the weight total is
    * an exact integer sum, and every later step is a single
    * correctly-rounded double op on exact-integer inputs followed by
    * floor — no libm, no round() ties. General temperatures need a
    * deterministic exp/ln pair ([[graft.functions.DetMath]] has ln;
    * T=2 is the common case and keeps the chain libm-free).
    *
    * Scale shape: one stratum-cardinality-bounded count aggregate, a
    * broadcast rate table, and a codegen'd filter — the corpus is
    * never shuffled.
    *
    * Output: input rows that pass the gate, plus `keep_rate_micro`
    * (the stratum's audit column). Null-stratum rows are dropped.
    */
  def temperatureMixSample(
      docs: DataFrame, strataCol: String, keyCol: String,
      targetTotal: Long): DataFrame = {
    require(targetTotal > 0, s"targetTotal must be positive: $targetTotal")
    val counts = docs.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val w = counts.withColumn("__w",
      floor(sqrt(col("__n").cast("double")) * lit(1e6)).cast("long"))
    // `tot` derives from `w`, so qualify the self-join legs by alias
    // (bare `__w` is AMBIGUOUS_REFERENCE after dedup-relations).
    val tot = w.agg(sum(col("__w")).as("__W"))
    val rates = w.as("wl").crossJoin(broadcast(tot.as("tt")))
      .withColumn("__t",
        floor(lit(targetTotal).cast("double") *
          (col("wl.__w").cast("double") / col("tt.__W").cast("double"))))
      .withColumn("keep_rate_micro",
        least(lit(1000000L),
          floor(col("__t").cast("double") * lit(1e6) /
            col("__n").cast("double")).cast("long")))
      .select(col(strataCol), col("keep_rate_micro"))
    docs.join(broadcast(rates), Seq(strataCol))
      .filter((HashExprs.md5Prefix60(col(keyCol).cast("string")) %
        lit(1000000L)) < col("keep_rate_micro"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land in the SAME split, or eval is contaminated by training-set
    * near-copies ([[splitAssign]] hashes each doc independently, so a
    * near-dup pair straddles the boundary with prob ≈ 2·p·(1−p)).
    *
    * `pairs` is any near-dup pair table over `docs` (MinHash, SimHash,
    * embedding-cosine — the [[Dedup]] builders). The pairs collapse to
    * connected components ([[Dedup.clusterPairs]]: iterative min-label
    * propagation, O(1) lineage); every doc's split key is its
    * component representative (unpaired docs key on their own id), and
    * the [[splitAssign]] hash of that key decides the whole component
    * at once. Same portable md5-prefix hash ⇒ membership stays
    * re-derivable and cross-engine auditable.
    *
    * Scale shape: CC over the (sparse) near-dup graph + one key-join
    * of the component table back onto the corpus — both keyed
    * shuffles; the split itself is a projection. No new shuffle class
    * beyond what dedup already paid.
    *
    * Output: every `docs` row + `split_key` (the component rep that
    * was hashed) + `split`.
    */
  def leakageSafeSplit(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val comp = graft.ext.Dedup.clusterPairs(pairs, aCol, bCol)
      .withColumnRenamed("id", "__cid")
    val keyed = docs
      .join(comp, docs(idCol) === comp("__cid"), "left")
      .drop("__cid")
      .withColumn("split_key",
        coalesce(col("cluster_rep"), longId(col(idCol), "leakageSafeSplit")))
      .drop("cluster_rep")
    // EAGER: clusterPairs' labels cache has no caller-visible handle —
    // materialize the split and release it here.
    graft.ext.Dedup.withCleanup(
      splitAssign(keyed, "split_key", trainPct, valPct), Seq(comp))
  }

  /** Per-group document quota: keep the top `n` rows of each group by
    * (`scoreCol` desc, `idCol` asc) and rank them 1..n — corpus curation
    * capped per source/domain so no single crawl dominates the mix.
    *
    * Implementation is the bounded-heap aggregate
    * [[graft.functions.TopKAgg]]: partial aggregation keeps at most `n`
    * (score, id) pairs per group PER MAP PARTITION, so the shuffle
    * carries ≤ n·partitions rows per group instead of the whole group —
    * the map-side prune a `row_number().over(Window)` plan cannot do
    * (a window shuffles every row of a hot group to one task; this
    * aggregates. At 100 TB with a skewed source distribution that is
    * the difference between a bounded merge and a straggler).
    *
    * Output: one row per kept document — (groupCols..., idCol, scoreCol,
    * rank) with rank 1-based in quota order.
    */
  /** Guarded long cast for TopKAgg-backed samplers: a non-integral id
    * (string/URL/hash) casts to null under non-ANSI and TopKAgg then
    * SKIPS the row — silent total data loss. Make that caller bug
    * loud; genuinely-null ids keep the documented skip semantics.
    */
  private def longId(c: Column, what: String): Column = {
    val v = c.cast("long")
    when(c.isNotNull && v.isNull, raise_error(concat(
      lit(s"$what: id not integral: "), c.cast("string"),
      lit(" — map ids to longs first")))).otherwise(v)
  }

  def quotaCap(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      idCol: String, n: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.topK(
      col(scoreCol).cast("double"), longId(col(idCol), "quotaCap"), n)
    df.groupBy(groupCols.map(col): _*)
      .agg(topk.as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")).as(Seq("__p", "__e")): _*)
      .select(
        groupCols.map(col) ++ Seq(
          col("__e.id").as(idCol),
          col("__e.score").as(scoreCol),
          (col("__p") + 1).cast("long").as("rank")): _*)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each row draws a reproducible uniform u from the
    * portable hash of its key and competes with priority ln(u)/w —
    * the k largest priorities are EXACTLY a weighted sample without
    * replacement with per-row weight `weightCol` (u^(1/w) order,
    * logged for numeric range). Corpus mixing by quality score or
    * length happens here: weight = quality ⇒ high-quality documents
    * are proportionally more likely to survive, and a re-run selects
    * the SAME rows.
    *
    * Priorities are rounded to 9 dp before ranking (u has 6 digits of
    * entropy, |priority| < 15 — rounding collisions are ties, broken
    * by key asc) so the selection is decidable identically in any
    * engine that computes md5 and ln: auditable cross-engine like
    * [[hashGate]].
    *
    * Scale shape: priority is a pure projection; the global top-k is
    * the bounded-heap [[graft.functions.TopKAgg]] — each map task
    * ships ≤ k rows, the single reduce task merges ≤ k·partitions
    * heap entries. No global sort, no single-partition window, no
    * full-corpus shuffle. Rows with null or non-positive weight are
    * excluded (they have zero selection mass).
    *
    * Output: (`idCol`, priority, rank) with rank 1-based in priority
    * order.
    */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    val scored = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol), aesPriority(idCol, weightCol).as("__pri"))
    val topk = graft.functions.TopKAgg.topK(
      col("__pri"), longId(col(idCol), "weightedSample"), k)
    scored.agg(topk.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(
        col("__e.id").as(idCol),
        col("__e.score").as("priority"),
        (col("__p") + 1).cast("long").as("rank"))
  }

  /** The A-ES competition key shared by [[weightedSample]] and
    * [[weightedSampleByGroup]]: ln(u)/w from the portable-hash
    * uniform, rounded for cross-engine decidability. The log is
    * [[graft.functions.DetMath.lnq]] so the value under the 9-dp
    * round is bit-identical cross-engine (libm log's 1-ulp wobble
    * against a 9-dp grid is a ~1e-6-per-row hash-fail coin; lnq
    * removes it).
    */
  private def aesPriority(idCol: String, weightCol: String): Column = {
    val u = (HashExprs.md5Prefix60(col(idCol).cast("string")) % 1000000L +
      lit(0.5)) / lit(1000000.0)
    round(graft.functions.DetMath.lnq(u) / col(weightCol).cast("double"), 9)
  }

  /** Per-stratum weighted sampling without replacement: `k` rows per
    * group, each group an independent A-ES draw — the corpus-mixing
    * move ("10 best-weighted docs per source") with [[quotaCap]]'s
    * scale shape (bounded heap per group per map task; a hot stratum
    * ships ≤ k·partitions rows, never its whole population).
    */
  def weightedSampleByGroup(
      df: DataFrame, groupCols: Seq[String], idCol: String,
      weightCol: String, k: Int): DataFrame =
    quotaCap(
      df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
        .withColumn("priority", aesPriority(idCol, weightCol)),
      groupCols, "priority", idCol, k)

  /** Largest-remainder apportionment of a token budget across strata
    * — the mixture-planning table: given per-stratum weights, split
    * `target` into integer allocations that sum to EXACTLY `target`
    * (floor quotas + the `remainder` highest fractional parts get +1,
    * Hamilton's method). Everything is integer arithmetic — quotas
    * via DECIMAL(38,0) `(x − x mod W)/W`, fractional parts compared
    * as the exact integer `(target·w) mod W` — so the plan is
    * bit-reproducible and auditable in any engine.
    *
    * Scale shape: one weight-total broadcast and one rank over the
    * STRATA (bounded by stratum cardinality, never corpus size).
    * Ties in fractional part break by stratum key ascending.
    */
  def largestRemainderAllocate(
      weights: DataFrame, keyCol: String, weightCol: String,
      target: Long): DataFrame = {
    require(target >= 0, s"target must be >= 0: $target")
    val w = col(weightCol).cast("decimal(38,0)")
    val tot = weights.agg(sum(w).as("__W"))
    val scaled = weights.crossJoin(broadcast(tot))
      // W <= 0 (all-zero weights) would make every __base/alloc NULL
      // silently, breaking the sums-to-target contract with no error;
      // negative weights break the largest-remainder invariants.
      .withColumn("__W",
        when(col("__W") <= 0 || isnull(col("__W")),
          raise_error(lit("largestRemainderAllocate: total weight " +
            "must be > 0")).cast("decimal(38,0)"))
          .otherwise(col("__W")))
      .withColumn("__num",
        when(w < 0, raise_error(lit("largestRemainderAllocate: " +
          "negative weight")).cast("decimal(38,0)"))
          .otherwise(lit(target).cast("decimal(38,0)") * w))
      .withColumn("__base",
        ((col("__num") - col("__num") % col("__W")) / col("__W"))
          .cast("long"))
      .withColumn("__frac", (col("__num") % col("__W")).cast("decimal(38,0)"))
    val used = scaled.agg(sum(col("__base")).as("__used"))
    val byFrac = org.apache.spark.sql.expressions.Window
      .orderBy(col("__frac").desc, col(keyCol).asc)
    scaled.crossJoin(broadcast(used))
      .withColumn("__r", row_number().over(byFrac).cast("long"))
      .withColumn("alloc",
        col("__base") +
          when(col("__r") <= lit(target) - col("__used"), 1L).otherwise(0L))
      .drop("__W", "__num", "__base", "__frac", "__used", "__r")
  }

  /** Deterministic curriculum order: rank documents within each
    * stratum (source) by the quality score, then interleave strata by
    * (stratum_rank, stratum) — the "every source's best first, round-
    * robin across sources" training order that keeps early epochs
    * high-quality AND source-diverse, without a single hot-source
    * prefix. Global positions come from the distributed ordinal
    * (range shuffle + carry), so the order is exact and the plan
    * never funnels the corpus through one partition.
    *
    * Output: input columns + `stratum_rank` (1-based within stratum)
    * + `curriculum_pos` (1-based global training position).
    */
  def curriculumOrder(
      df: DataFrame, strataCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = df.withColumn("stratum_rank",
      row_number().over(byStratum).cast("long"))
    graft.plans.Ordinal.withGlobalRowNumber(
      ranked, Seq(col("stratum_rank"), col(strataCol), col(idCol)),
      "curriculum_pos")
  }

  /** DSIR importance weights (Xie et al., NeurIPS'23): score every
    * document by how much more likely its hashed-unigram features are
    * under the TARGET distribution than under the RAW pool —
    * `w(doc) = Σ_tokens ln(p_t(b) / p_r(b))` with add-1 smoothing over
    * `numBuckets` hash buckets. High-weight raw docs are the ones to
    * up-sample when aiming a web-scale pool at a curated target.
    *
    * Cross-engine exactness: the per-bucket log-ratio collapses to ONE
    * deterministic-ln call on an exact integer ratio —
    * `ln(((c_t+1)·(T_r+B)) / ((T_t+B)·(c_r+1)))` where every product
    * stays < 2⁵³ (exactly-representable doubles, correctly-rounded
    * division), computed with [[graft.functions.DetMath.lnq]] and
    * floor-quantized to `lambda_q = ⌊ln·10⁹⌋` — so the per-doc weight
    * is an exact INTEGER sum, immune to partition order and engine
    * libm.
    *
    * Scale shape: the bucket table is bounded by `numBuckets` (two
    * broadcast hops, no corpus shuffle for the stats join); the only
    * corpus-sized shuffle is the per-doc weight aggregate, keyed on
    * the doc id with map-side combine. The tokenize explode runs
    * twice (stats pass + scoring pass) — the standard two-pass shape
    * of any fit-then-transform operator.
    *
    * Output: (id, n_tokens, weight_q, weight = weight_q/1e9) for every
    * doc with text — target docs included (their weights audit the
    * separation; filter on `isTarget` downstream to resample).
    */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, numBuckets: Int): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), isTarget.as("__tgt"),
        explode(split(trim(lower(col(textCol))), " ")).as("__t"))
      .select(col(idCol), col("__tgt"),
        (HashExprs.md5Prefix60(col("__t")) % numBuckets).as("bucket"))
    val bucketCounts = toks.groupBy(col("bucket")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__tgt"), 0L).otherwise(1L)).as("__cr"))
    val totals = bucketCounts.agg(
      sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    val lambda = bucketCounts.crossJoin(broadcast(totals))
      // Each factor casts to double BEFORE the multiply: the Long
      // product (count+1)·(total+B) wraps past 2⁶³ at large-corpus
      // token counts (silently, non-ANSI) — the double product is
      // correctly rounded at any scale and identical to the old value
      // wherever the long product was exact (< 2⁵³).
      .withColumn("lambda_q",
        floor(graft.functions.DetMath.lnq(
          ((col("__ct") + lit(1L)).cast("double") *
            (col("__tr") + lit(numBuckets.toLong)).cast("double")) /
          ((col("__tt") + lit(numBuckets.toLong)).cast("double") *
            (col("__cr") + lit(1L)).cast("double"))) * lit(1e9)).cast("long"))
      .select(col("bucket"), col("lambda_q"))
    toks.join(broadcast(lambda), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lambda_q")).as("weight_q"))
      .withColumn("weight", col("weight_q").cast("double") / lit(1e9))
  }

  /** Token-budget-constrained selection: rank the corpus by `order`
    * (best first — e.g. quality desc) and keep the maximal prefix
    * whose cumulative `tokenCol` stays within `budget` — "take the
    * highest-quality B tokens", the standard way a pretraining mix
    * caps a source once scoring is done.
    *
    * The cumulative sum is [[graft.plans.Prefix.withRunningSum]] —
    * one range shuffle + a per-partition carry pass, never a
    * single-partition window — so the selection is a global-order
    * prefix yet every stage stays distributed. Keep rule: a document
    * is kept iff it fits ENTIRELY within the budget (`cum <= budget`);
    * with a deterministic unique `order` the kept set is exact and
    * reproducible, not a per-partition approximation.
    *
    * Output: kept rows + `cum_tokens` (inclusive running total — the
    * audit column that proves the budget).
    */
  def tokenBudgetSelect(
      df: DataFrame, order: Seq[Column], tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    graft.plans.Prefix
      .withRunningSum(df, order, tokenCol, "cum_tokens")
      .filter(col("cum_tokens") <= budget)
  }

  /** General-temperature mixture apportionment: per-stratum targets
    * ∝ n_s^(1/T) for ANY T — the restriction that made
    * [[temperatureMixSample]] T=2-only (ln/exp needed libm) falls
    * away with the deterministic pair: weight_q =
    * ⌊expq(lnq(n)·(1/T))·10⁶⌋ is one lnq, one correctly-rounded
    * multiply by the compile-time reciprocal, one expq — bit-identical
    * in any IEEE engine — then floor-quantized into
    * [[largestRemainderAllocate]]'s exact integer apportionment.
    * T=1 reproduces proportional, T→∞ approaches uniform; the
    * standard pretraining-mixture knob (e.g. XLM-R's T=3.33).
    *
    * Scale shape: stratum-bounded aggregate input, one-row broadcast
    * total, bounded window — the corpus is never touched.
    */
  def temperatureAllocate(
      counts: DataFrame, keyCol: String, countCol: String,
      target: Long, temperature: Double): DataFrame = {
    require(temperature > 0.0, s"temperature must be > 0: $temperature")
    // The strata table is bounded by contract, so the weights are
    // computed DRIVER-SIDE with the scalar DetMath kernels —
    // bit-identical to the Column forms (DetMathSpec pins it), and it
    // sidesteps what measurement showed to be the real cost: inlining
    // the ~200-op lnq∘expq tree into the allocator's four references
    // made PLANNING+codegen the bottleneck (64 s for a 20-row
    // allocation; 9 s with a localCheckpoint leaf; ~1 s this way).
    // The one collect is the IVF-centroid class of driver state.
    val spark = counts.sparkSession
    val rows = counts.select(col(keyCol).cast("string"),
      col(countCol).cast("long")).collect()
    val weights = rows.map { r =>
      val n = r.getLong(1)
      val wq = math.floor(graft.functions.DetMath.expqDouble(
        graft.functions.DetMath.lnqDouble(n.toDouble) *
          (1.0 / temperature)) * 1e6).toLong
      (r.getString(0), n, wq)
    }.toSeq
    import spark.implicits._
    val w = weights.toDF(keyCol, countCol, "weight_q")
    largestRemainderAllocate(w, keyCol, "weight_q", target)
  }

  /** Capacity-capped proportional apportionment (water-filling) — the
    * REAL mixture problem: allocate `target` tokens ∝ weights, but no
    * stratum can give more than it has (`capCol`). Plain
    * [[largestRemainderAllocate]] happily assigns a small source 3×
    * its size; this one caps it and re-levels the excess onto the
    * uncapped strata — in ONE pass, no iteration: sorted by the
    * exhaustion ratio cap/weight ascending, the capped set is a
    * PREFIX, and membership is an exact-integer cross-multiplied test
    * per row ((T − caps-before)·w ≥ cap·(weight-at-or-after)); the
    * residual then flows through the exact Hamilton apportionment.
    * The +1 largest-remainder unit cannot breach a cap (an uncapped
    * stratum's real share is strictly below its integer cap, so
    * ⌊share⌋+1 ≤ cap).
    *
    * If `target` ≥ Σcaps every stratum caps and the shortfall is
    * visible as Σalloc < target — reported, not hidden.
    *
    * Determinism: the only double is the SORT key cap/w (one
    * correctly-rounded division, ties by key); every decision and
    * allocation is exact DECIMAL(38,0) integer arithmetic. Bounded:
    * everything runs on the strata table.
    *
    * Output: (key, weight, cap, capped, alloc).
    */
  def cappedAllocate(
      strata: DataFrame, keyCol: String, weightCol: String,
      capCol: String, target: Long): DataFrame = {
    require(target >= 0, s"target must be >= 0: $target")
    val dec = "decimal(38,0)"
    val w = col(weightCol).cast(dec)
    val cap = col(capCol).cast(dec)
    // ROWS frame (not the default RANGE): tied ratios must not pool
    // into one frame — the (ratio, key) order is a total order.
    val byRatio = org.apache.spark.sql.expressions.Window
      .orderBy(col(capCol).cast("double") / col(weightCol).cast("double"),
        col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = strata.agg(sum(w).as("__tw"))
    val flagged = strata
      .withColumn("__cumcap_prev", sum(cap).over(byRatio).cast(dec) - cap)
      .withColumn("__cumw_prev", sum(w).over(byRatio).cast(dec) - w)
      .crossJoin(broadcast(tot))
      .withColumn("capped",
        (lit(target).cast(dec) - col("__cumcap_prev")) * w >=
          cap * (col("__tw") - col("__cumw_prev")))
    val cappedRows = flagged.filter(col("capped"))
      .select(col(keyCol), col(weightCol), col(capCol),
        col("capped"), col(capCol).cast("long").as("alloc"))
    // The residual is a driver-side exact integer (one bounded
    // collect — the IVF-centroid class of driver state).
    val used: Long = cappedRows
      .agg(coalesce(sum(col("alloc")), lit(0L))).collect()(0).getLong(0)
    val uncapped = flagged.filter(!col("capped"))
      .select(col(keyCol), col(weightCol), col(capCol), col("capped"))
    val allocated =
      if (uncapped.isEmpty) uncapped.withColumn("alloc", lit(0L))
      else largestRemainderAllocate(uncapped, keyCol, weightCol,
        math.max(0L, target - used))
    cappedRows.unionByName(
      allocated.select(col(keyCol), col(weightCol), col(capCol),
        col("capped"), col("alloc")))
  }

  /** EXACTLY-k deterministic uniform sample: the k keys with the
    * smallest portable md5 hashes. [[hashGate]] gives a
    * BINOMIAL size (±√n) — fine for rates, wrong when the contract is
    * "give me exactly 10 000 eval docs"; ordering by the hash makes
    * size exact while keeping membership key-derivable, stable under
    * reruns, and cross-engine auditable. (Adding corpus rows CAN
    * displace previous members — an exact-size window must slide;
    * callers needing grow-stability use the gate instead.)
    *
    * Plan shape: `orderBy(hash, key).limit(k)` is
    * TakeOrderedAndProject — each task keeps its local top-k and the
    * driver merges k·partitions rows; no global sort, no shuffle of
    * the corpus. Output: input rows + `sample_hash` (the audit
    * column).
    */
  def exactKSample(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    df.withColumn("sample_hash",
      HashExprs.md5Prefix60(col(keyCol).cast("string")))
      .orderBy(col("sample_hash").asc, col(keyCol).asc)
      .limit(k)
  }

  /** The final TRAINING MANIFEST: turn a token target into the actual
    * epoch-replicated, globally-shuffled training order — the artifact
    * a data loader consumes. Three standard recipes composed:
    *
    *  1. Mix: per-stratum token allocations ∝ √n_s
    *     ([[temperatureMixSample]]'s T=2 flattening) apportioned
    *     EXACTLY to `targetTokens` by [[largestRemainderAllocate]].
    *  2. Repetition: a stratum whose allocation exceeds its size runs
    *     multiple epochs (Muennighoff et al. '23 data-constrained
    *     scaling): every doc repeats ⌊alloc/n⌋ times, and the
    *     fractional epoch admits docs by the portable md5 micro-rate
    *     gate — `frac_micro = (alloc mod n)·10⁶ div n` (exact integer
    *     arithmetic), so expected extra tokens ≈ the remainder and
    *     membership is re-derivable from the key alone.
    *  3. Shuffle: instances get a deterministic pseudorandom global
    *     order — position = distributed ordinal over
    *     (md5(doc‖epoch), doc, epoch) — so consecutive training steps
    *     mix strata and epochs without any true RNG. No
    *     single-partition window: the ordinal is a range shuffle +
    *     carry.
    *
    * Scale shape: stats and allocation tables are stratum-bounded
    * (two broadcast hops); the corpus-sized work is one explode
    * (bounded by the epoch count, a plan constant ≤ ~1+alloc/n) and
    * one range shuffle for the global order.
    *
    * Output: (id, stratum, tokenCol, epoch ≥ 1, train_pos) — one row
    * per training INSTANCE.
    */
  def trainManifest(
      docs: DataFrame, strataCol: String, idCol: String,
      tokenCol: String, targetTokens: Long): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive: $targetTokens")
    val perSource = docs
      .groupBy(col(strataCol))
      .agg(sum(col(tokenCol).cast("long")).as("__n"))
      .withColumn("__wq",
        floor(sqrt(col("__n").cast("double")) * lit(1e6)).cast("long"))
    // Exact integer div/mod in DECIMAL(38,0) (the
    // [[largestRemainderAllocate]] discipline — a bare long `/` is
    // DOUBLE division in Spark, inexact past 2^53).
    val aDec = col("alloc").cast("decimal(38,0)")
    val nDec = col("__n").cast("decimal(38,0)")
    val remM = (aDec % nDec) * lit(1000000L).cast("decimal(38,0)")
    val alloc = largestRemainderAllocate(
      perSource, strataCol, "__wq", targetTokens)
      .withColumn("__base",
        ((aDec - aDec % nDec) / nDec).cast("long"))
      .withColumn("__fm",
        ((remM - remM % nDec) / nDec).cast("long"))
      .select(col(strataCol), col("__base"), col("__fm"))
    val copies = docs
      .join(broadcast(alloc), Seq(strataCol))
      .withColumn("__extra",
        when(HashExprs.md5Prefix60(col(idCol).cast("string"))
          % 1000000L < col("__fm"), 1L).otherwise(0L))
      .withColumn("__copies", col("__base") + col("__extra"))
      .filter(col("__copies") >= 1L)
      .select(col(strataCol), col(idCol), col(tokenCol),
        explode(sequence(lit(1L), col("__copies"))).as("epoch"))
    graft.plans.Ordinal.withGlobalRowNumber(
      copies.withColumn("__shuf",
        HashExprs.md5Prefix60(
          concat(col(idCol).cast("string"), lit(":"),
            col("epoch").cast("string")))),
      Seq(col("__shuf"), col(idCol), col("epoch")), "train_pos")
      .drop("__shuf")
  }

  /** Sequence-length bucketing padding report: assign every document
    * to the smallest power-of-two bucket that holds its token count
    * (capped at `maxLen` — longer docs are counted as one `maxLen`
    * truncation) and report, per bucket, the padding a
    * fixed-length-batch loader would burn: capacity = n_docs·bucket,
    * padding = capacity − real tokens, waste as an exact-integer-ratio
    * double. The one-line summary a batching design reads before
    * choosing bucket boundaries vs. sequence packing
    * ([[graft.plans.Prefix.packBins]] is the packing alternative).
    *
    * The bucket is a compile-time CASE chain over the ≤ log₂(maxLen)+1
    * cutoffs — codegen'd integer comparisons, no libm log2 — and the
    * aggregate is bucket-keyed (≤ 11 groups at maxLen 1024): the
    * corpus is scanned once, map-side combined, never reshuffled.
    */
  def lengthBucketReport(
      docs: DataFrame, tokenCol: String, maxLen: Int): DataFrame = {
    require(maxLen >= 2 && (maxLen & (maxLen - 1)) == 0,
      s"maxLen must be a power of two >= 2: $maxLen")
    val cuts = Iterator.iterate(1L)(_ * 2).takeWhile(_ < maxLen.toLong).toSeq
    val t = col(tokenCol).cast("long")
    val bucket = cuts.foldRight(lit(maxLen.toLong)) { (c, acc) =>
      when(t <= c, lit(c)).otherwise(acc)
    }
    docs
      .filter(t > 0L)
      .select(bucket.as("bucket"),
        least(t, lit(maxLen.toLong)).as("__tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("sum_tokens"))
      .withColumn("capacity", col("n_docs") * col("bucket"))
      .withColumn("padding", col("capacity") - col("sum_tokens"))
      .withColumn("waste",
        col("padding").cast("double") / col("capacity").cast("double"))
  }
}
