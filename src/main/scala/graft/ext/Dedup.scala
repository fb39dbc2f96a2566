package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Deduplication for LLM training-data pipelines — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine. North-star
  * extension; no reference equivalent.
  *
  * Scale notes (the whole point of these designs):
  *   - exact: one hash-shuffle on the dedup key (or its md5 when the key
  *     is a long text — shuffle bytes shrink from document-size to 16).
  *   - MinHash LSH: candidate generation is an equi-join on
  *     (band_id, band_hash) — never an all-pairs product. Verification
  *     runs only on bucket-colliding pairs.
  *   - SimHash: 64-bit signature per doc; banding the 64 bits into 4×16
  *     guarantees every pair within Hamming distance 3 shares a band
  *     (pigeonhole), so candidate generation is again an equi-join.
  *   - embedding: sign-LSH buckets via [[Similarity.lshBucket]].
  */
object Dedup {

  /** Materialize the (small) near-dup result, then free the cached
    * intermediates: signature/shingle tables are only needed while the
    * candidate and verification joins run, and leaving them cached for
    * the life of the session accumulates storage across repeated calls.
    * The returned frame is itself persisted (bounded: pair rows only)
    * so the eager materialization isn't wasted; callers that are done
    * with it can `unpersist()` it. Also used by the operators outside
    * this object that consume [[clusterPairs]]' (or a pair builder's)
    * internal caches.
    */
  private[graft] def withCleanup(result: DataFrame, cached: Seq[DataFrame]): DataFrame = {
    val out = result.persist()
    // finally: a failed materialization (executor loss, OOM) must not
    // leak the cached intermediates — or the half-persisted result —
    // for the session's lifetime.
    try out.count()
    catch {
      case t: Throwable => out.unpersist(blocking = false); throw t
    } finally cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** The key-cells of `df` holding at least `gridThreshold` rows — the
    * cells whose m² verify work [[gridSelfJoin]] spreads over a salt
    * grid — with their row counts (`__cellN`), which size each cell's
    * salt grid. One map-side-combinable aggregate; the result is
    * provably small (each hot cell holds ≥ gridThreshold rows, so
    * there are at most n / gridThreshold of them — ≤ ~500k cells even
    * at 10⁹ banded rows with the lowest shipped threshold, 2048 in
    * [[editDistancePairs]]; the SimHash miners gate at 8192), which is
    * what licenses broadcasting it below.
    */
  private[graft] def hotCells(
      df: DataFrame, keys: Seq[String], gridThreshold: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__cellN"))
      .filter(col("__cellN") >= gridThreshold)

  /** Count-gated grid self-join — the skew-distribution move shared by
    * the banded near-dup miners (SimHash bands, FastSS variants).
    * Self-joins `df` on `keys`, returning keys ++ the `aCols`/`bCols`
    * renames of the payload columns; the caller applies its verify
    * filter (`id_a < id_b`, hamming/levenshtein bound) and pair dedup.
    *
    * Why it exists: within one key cell the join emits m² candidate
    * rows from a few MB of input — compute-per-row skew that AQE's
    * byte-based skew split can never see (the q_dedup_edit pathology:
    * hot partitions sit far below any byte trigger while holding
    * minutes of verify work). Two measured pathologies, two moves:
    *
    *   1. MANY warm cells co-resident on cpus-sized reducers → every
    *      cell is fanned over 8×-core partitions keyed on `keys`
    *      (user-specified counts, which AQE leaves alone);
    *   2. a SINGLE hot cell (count ≥ `gridThreshold`) still lands its
    *      m² verifies on one reducer → its rows are spread over an
    *      S × S salt grid: a left row carries a fixed deterministic
    *      salt sa = xxhash64(payload) mod S and is replicated across
    *      all S values of sb; a right row carries fixed sb, replicated
    *      across all sa. Every (left, right) pair in the cell meets
    *      EXACTLY once — at (sa(left), sb(right)) — so the output pair
    *      multiset is identical to the plain self-join; the grid only
    *      changes WHERE the verify runs (up to S² reducer cells
    *      instead of one, for ×S shuffle replication of hot rows
    *      only).
    *
    * S is PER CELL, scaled to the cell's own count:
    * S = clamp(⌈cellN / sliceTarget⌉, 2, `gridSalt`), i.e. each grid
    * slice aims to hold ~`sliceTarget` of the cell's rows. The slice
    * target is DECOUPLED from the gate on purpose: at the shipped
    * defaults (gate 8192, target 1024, salt cap 8) every gated cell
    * computes S ≥ 8 and caps at 8 — bit-identical behavior to the
    * fixed-S grid this round's 100× wins were measured on — while a
    * LOWERED gate gives barely-hot cells a gentle ×2–×4 grid instead
    * of the full ×gridSalt (the r15 threshold A/B measured fixed S=8
    * at a 1024 gate tripling the sf0.1 wall of the coarse-banded
    * SimHash miner: every barely-hot cell paid ×8 shuffle replication
    * for ms-class verify work). Both sides of a pair live in the same
    * cell and so derive the same S: the exactly-once meeting argument
    * is unchanged, and S is data-derived (from counts), so the plan is
    * deterministic across partition layouts (invariance gate).
    *
    * The gate is a row COUNT per cell (not bytes) because rows are
    * what predict the m² work, and it resolves DRIVER-SIDE: one
    * aggregate job collects the hot-cell list (bounded — each hot cell
    * holds ≥ gridThreshold rows, so ≤ n/gridThreshold cells come back)
    * before the join plan is built. When the list is empty — every
    * corpus below ~10⁶ docs for the SimHash defaults — the emitted
    * plan is EXACTLY the plain self-join (no tag join, no union, no
    * empty 8×-core stages: an always-in-DAG split was measured at
    * +1.6/+2.4 s on the sf0.1 bench for the simhash keys, all of it
    * machinery shuffling zero hot rows). Counts are data-derived, so
    * the branch is deterministic across partition layouts (invariance
    * gate) and the oracle is untouched either way.
    */
  private[graft] def gridSelfJoin(
      df: DataFrame, keys: Seq[String],
      aCols: Seq[(String, String)], bCols: Seq[(String, String)],
      gridThreshold: Int, gridSalt: Int = 8,
      plainFanout: Option[Int] = None,
      maxCellBound: Option[Long] = None,
      sliceTarget: Int = 1024,
      maxHotCells: Int = 1 << 20): DataFrame = {
    require(gridThreshold >= 2, s"gridThreshold must be >= 2: $gridThreshold")
    require(maxHotCells >= 1, s"maxHotCells must be >= 1: $maxHotCells")
    require(gridSalt >= 2, s"gridSalt must be >= 2: $gridSalt")
    require(sliceTarget >= 1, s"sliceTarget must be >= 1: $sliceTarget")
    require(aCols.map(_._1) == bCols.map(_._1),
      s"aCols/bCols must rename the same source columns: $aCols vs $bCols")
    // The collision surface is every column the hot path touches: the
    // join keys AND the payload columns (sources and renames). A
    // payload column named __sa would be silently REPLACED by the salt
    // on the hot path only (withColumn overwrite), so emitted pairs
    // would carry salt integers instead of ids — and only for corpora
    // past the gate, where small-SF tests never look.
    // NOTE: resolution is CASE-INSENSITIVE by default (spark.sql.
    // caseSensitive=false), so the grid-size column is "__gs", not
    // "__S" — "__S" would be ambiguous against editDistancePairs' own
    // "__s" payload column. The reserved set is compared lowercased
    // for the same reason.
    val reserved = Set("__sa", "__sb", "__hot", "__gs", "__celln")
    val surface = keys ++ aCols.flatMap(c => Seq(c._1, c._2)) ++
      bCols.map(_._2)
    require(!surface.map(_.toLowerCase).exists(reserved),
      s"columns collide with grid-internal names $reserved: $surface")
    val keyCols = keys.map(col)
    def side(d: DataFrame, renames: Seq[(String, String)],
        salts: Seq[Column]): DataFrame =
      d.select(keyCols ++ renames.map { case (f, t) => col(f).as(t) }
        ++ salts: _*)
    def plainJoin: DataFrame = {
      // Plain fanned self-join — the pre-grid plan shape, bit for bit.
      val base = plainFanout
        .map(n => df.repartition(n, keyCols: _*)).getOrElse(df)
      side(base, aCols, Nil).join(side(base, bCols, Nil), keys)
    }
    // A caller-supplied structural bound on any single cell's count
    // (e.g. the signature count — no band cell can exceed the corpus)
    // below the threshold proves no cell is hot WITHOUT running the
    // count job: the common small-corpus case pays literally nothing.
    if (maxCellBound.exists(_ < gridThreshold)) return plainJoin
    // Bounded driver state: ≤ n/gridThreshold hot key tuples (the
    // CollectAuditSpec census entry for this file) — and the bound is
    // ENFORCED, not assumed: at the shipped gates n/gridThreshold is
    // small, but a caller may pass an arbitrarily low `gridThreshold`
    // (2 on 10⁹ banded rows would make "bounded" mean 5·10⁸ rows), so
    // the collect is capped via limit(maxHotCells+1) and a cap overflow
    // fails LOUDLY with the remedy (raise the gate) instead of OOMing
    // the driver. 2²⁰ cells needs ≥ 2²⁰·gate banded rows to reach —
    // ~8.6·10⁹ at the shipped 8192 — and stays a few tens of MB of
    // driver heap if it ever does.
    val hotFrame = hotCells(df, keys, gridThreshold)
    val hotList = hotFrame.limit(maxHotCells + 1).collect()
    require(hotList.length <= maxHotCells,
      s"gridSelfJoin: more than $maxHotCells cells hold >= " +
        s"$gridThreshold rows — the gate is mis-tuned for this corpus " +
        "(the hot list must stay a small broadcast); raise the " +
        "gridThreshold argument")
    if (hotList.isEmpty) return plainJoin
    val spark = df.sparkSession
    val fanout = math.max(plainFanout.getOrElse(0),
      spark.sparkContext.defaultParallelism * 8)
    val fanned = df.repartition(fanout, keyCols: _*)
    // The hot list is already on the driver — rebuild it as a local
    // relation for the tag join (carrying each cell's salt-grid size
    // __gs, computed here from the collected count) instead of
    // re-running the aggregate in-DAG.
    val sField = org.apache.spark.sql.types.StructField(
      "__gs", org.apache.spark.sql.types.IntegerType, nullable = false)
    val sSchema = org.apache.spark.sql.types.StructType(
      hotFrame.schema.fields.init :+ sField)
    val hotWithS = hotList.map { r =>
      val cellN = r.getLong(r.length - 1)
      val s = math.min(gridSalt.toLong, math.max(2L,
        (cellN + sliceTarget - 1) / sliceTarget)).toInt
      org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ s)
    }
    val hotMark = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(hotWithS: _*), sSchema)
      .withColumn("__hot", lit(true)))
    val tagged = fanned.join(hotMark, keys, "left")
    val cold = tagged.filter(col("__hot").isNull)
    val coldPairs = side(cold, aCols, Nil).join(side(cold, bCols, Nil), keys)
    val hotRows = tagged.filter(col("__hot") === true)
    // Deterministic per-row salt from the payload itself (never the
    // partition), so the same row salts identically on both sides and
    // under any CPU count; modulus __gs is the row's own cell grid size.
    val rowSalt = pmod(xxhash64(aCols.map(c => col(c._1)): _*),
      col("__gs").cast("long")).cast("int")
    val spanSalt = explode(sequence(lit(0), col("__gs") - 1))
    val gridKeys = keys ++ Seq("__sa", "__sb")
    val hotA = side(
      hotRows.withColumn("__sa", rowSalt).withColumn("__sb", spanSalt),
      aCols, Seq(col("__sa"), col("__sb")))
      .repartition(fanout, gridKeys.map(col): _*)
    val hotB = side(
      hotRows.withColumn("__sb", rowSalt).withColumn("__sa", spanSalt),
      bCols, Seq(col("__sa"), col("__sb")))
      .repartition(fanout, gridKeys.map(col): _*)
    val hotPairs = hotA.join(hotB, gridKeys).drop("__sa", "__sb")
    coldPairs.unionByName(hotPairs)
  }

  /** Exact dedup: deterministic representative (min of `repCol`) + copy
    * count per distinct key. One hash aggregation.
    */
  def exact(df: DataFrame, keyCols: Seq[String], repCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(repCol)).as(repCol), count(lit(1)).as("n_copies"))

  /** THE text digest of this library — a true 16-byte binary md5.
    * Single definition on purpose: incremental dedup only works if the
    * batch-side fingerprint matches how history digests were persisted,
    * so every digest-keyed operator (exact dedup, textDigests,
    * incremental) must share this exact expression.
    */
  def textDigest(text: Column): Column = unhex(md5(text.cast("binary")))

  /** Distinct word n-gram shingles — the custom codegen'd
    * [[graft.functions.WordShingleOps]] kernel (the HOF formulation
    * costs ~15 s of lambda codegen per query plus ~10x slower eval).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextExprs.wordShingles(text, n)

  /** (id, __set): each document's distinct word `shingleN`-gram set. */
  private def shingleSets(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    docs.select(col(idCol), shingles(col(textCol), shingleN).as("__set"))

  /** (id, signature): signature[i] = min of `slots(i)` over the doc's
    * rows of `exploded` (one row per shingle) — k `min` aggregations,
    * one hash-shuffle keyed on the doc id, map-side combined. The two
    * MinHash families differ only in the per-slot hash they pass.
    */
  private def minSignatures(
      exploded: DataFrame, idCol: String, slots: Seq[Column]): DataFrame = {
    val mins = slots.zipWithIndex.map { case (h, i) => min(h).as(s"__h$i") }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array(slots.indices.map(i => col(s"__h$i")): _*).as("signature"))
  }

  /** Signatures derived from an already-shingled `(id, __set)` frame —
    * lets near-dup pipelines shingle ONCE and reuse the same sets for
    * both signature generation and candidate verification.
    */
  private def signaturesFromShingleSets(
      sets: DataFrame, idCol: String, numHashes: Int): DataFrame =
    minSignatures(sets.select(col(idCol), explode(col("__set")).as("__sh")),
      idCol, (0 until numHashes).map(i => xxhash64(col("__sh"), lit(i))))

  /** The band cells of a MinHash signature: one struct(band, `field`)
    * per band, `field` being `bandKey` over the band's
    * `numHashes/bands` signature slots — static per band (no HOF
    * lambdas, no string joins: the band index is known at plan-build
    * time).
    */
  private def minHashBandCells(numHashes: Int, bands: Int, field: String)(
      bandKey: Seq[Column] => Column): Seq[Column] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        bandKey((b * rows until (b + 1) * rows)
          .map(i => element_at(col("signature"), i + 1))).as(field))
    }
  }

  /** One row per (row, band cell) of `df`: the `kept` columns, the band
    * index as `__band` and the cell's `field` as `keyAs`. The one
    * banding step of every LSH miner here (MinHash and SimHash alike).
    */
  private def explodeBands(
      df: DataFrame, kept: Seq[String], bandCells: Seq[Column],
      field: String, keyAs: String): DataFrame = {
    val keep = kept.map(col)
    df.select(keep :+ explode(array(bandCells: _*)).as("__bb"): _*)
      .select(keep ++ Seq(col("__bb.band").as("__band"),
        col(s"__bb.$field").as(keyAs)): _*)
  }

  /** (id, signature, __band, __bandhash) — one row per (doc, band),
    * the band key an xxhash64 over the band's signature slots.
    */
  private def bandExplode(
      signatures: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    explodeBands(signatures, Seq(idCol, "signature"),
      minHashBandCells(numHashes, bands, "bandhash")(s => xxhash64(s: _*)),
      "bandhash", "__bandhash")

  /** Self-join of a banded frame on `keys`: each side projects its
    * renames (`a`, `b`) plus the keys; keeps id_a < id_b.
    */
  private def bandPairs(
      banded: DataFrame, keys: Seq[String],
      a: Seq[Column], b: Seq[Column]): DataFrame =
    banded.select(a ++ keys.map(col): _*)
      .join(banded.select(b ++ keys.map(col): _*), keys)
      .filter(col("id_a") < col("id_b"))

  /** Static per-slot signature agreement — plain codegen'd expressions,
    * no higher-order functions (HOF lambdas cost seconds of janino
    * time).
    */
  private def slotAgreement(numHashes: Int): Column =
    (1 to numHashes).map(i =>
      when(element_at(col("__sig_a"), i) === element_at(col("__sig_b"), i),
        1).otherwise(0)).reduce(_ + _).cast("double") / numHashes

  /** MinHash LSH candidate pairs: band the signature into `bands` bands
    * of `numHashes/bands` rows, hash each band, equi-join on
    * (band_index, band_hash). Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b; est_jaccard = fraction of matching signature slots.
    */
  def minHashCandidatePairs(
      signatures: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandPairs(bandExplode(signatures, idCol, numHashes, bands),
        Seq("__band", "__bandhash"),
        Seq(col(idCol).as("id_a"), col("signature").as("__sig_a")),
        Seq(col(idCol).as("id_b"), col("signature").as("__sig_b")))
      .withColumn("est_jaccard", slotAgreement(numHashes))
      .select("id_a", "id_b", "est_jaccard")
      .dropDuplicates("id_a", "id_b")

  /** The MinHash near-dup pipeline both families share: shingle ONCE —
    * the persisted sets feed `signatures` and both verification
    * branches (the signatures are persisted too: they feed the two
    * banding branches of `candidates`). Both caches are tiny next to
    * the corpus: k longs / one string-set per doc. Candidate pairs are
    * verified against the true token-set Jaccard.
    */
  private def minHashNearPairs(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      threshold: Double)(
      signatures: DataFrame => DataFrame,
      candidates: DataFrame => DataFrame): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN).persist()
    val sigs = signatures(sets).persist()
    val cands = candidates(sigs)
    val inter = graft.functions.ArrayExprs.intersectSize(
      col("__set_a"), col("__set_b"))
    val result = cands
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__set_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__set_b")), "id_b")
      .withColumn("jaccard", inter.cast("double") /
        (size(col("__set_a")) + size(col("__set_b")) - inter).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    withCleanup(result, Seq(sets, sigs))
  }

  // ---- Incremental dedup (new batch vs historical corpus) -----------

  /** The digest frame a pipeline PERSISTS for incremental exact dedup:
    * (idCol, digest) — 16 B/doc, the only state the history side needs.
    */
  def textDigests(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), textDigest(col(textCol)).as("digest"))

  /** Incremental exact dedup: which documents of a NEW batch survive
    * against an already-deduplicated historical corpus. Drops new docs
    * whose digest exists in history (left-anti join against the 16-byte
    * digest table — the history TEXT is never touched), then keeps one
    * representative (min `idCol`) per digest within the batch itself.
    * Both steps are digest-keyed shuffles; the anti-join build side is
    * the digest table, which AQE can broadcast when small.
    */
  def incrementalExactByDigest(
      newDocs: DataFrame, idCol: String, textCol: String,
      historyDigests: DataFrame, digestCol: String = "digest"): DataFrame = {
    val withFp = newDocs.withColumn("__fp", textDigest(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    withFp
      .join(historyDigests.select(col(digestCol).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** [[incrementalExactByDigest]] with a Bloom-filter prefilter: the
    * history digest set is aggregated once into a compact sketch
    * (distributed build, driver holds only the merged bitset), and
    * batch rows whose digest the sketch definitely does not contain
    * skip the anti-join entirely — only bloom-positive candidates
    * (true dups + ~fpp false positives) shuffle against history. Same
    * answer as the plain anti-join: the bloom has no false negatives,
    * and every positive is verified by the exact join.
    *
    * Scale math: ~7.3 bits/item at fpp=3% → 10^8 history digests ≈
    * 91 MB of sketch — broadcastable. Beyond ~10^9 items, shard the
    * history by digest prefix and run one sketch per shard (same
    * operator, partitioned), or raise fpp: correctness never depends
    * on the sketch, only the anti-join's input volume does.
    *
    * SIZING GUARD: Spark's native aggregate silently clamps to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 67M bits ≈ 8 MB) — a 10^8
    * request under default confs would saturate toward fpp≈1 and turn
    * the prefilter into pure overhead with no visible failure. This
    * method therefore REQUIRES the session confs to accommodate the
    * requested (expectedItems, fpp) and fails loudly with the remedy
    * instead of shipping a saturated sketch.
    */
  def bloomPrefilteredIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      historyDigests: DataFrame, digestCol: String = "digest",
      expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    // Sketch build AND probe through Spark's native bloom expressions
    // (the engine's own runtime-filter kernels): the build is a real
    // distributed TypedImperativeAggregate (executor-side partial
    // sketches, one merge), the probe is a codegen'd scalar against a
    // literal sketch — no Scala-UDF serialization boundary anywhere.
    // Both sides key on xxhash64(digest) (LongType — the same
    // type-agnostic recipe Spark's own InjectRuntimeFilter uses); the
    // extra 64-bit-collision false-positive channel is absorbed by the
    // verifying exact join like every other bloom positive.
    // Null digests (null text rows) match incrementalExactByDigest's
    // join semantics: excluded from the sketch build (xxhash64(null)
    // would insert the seed constant for them) and treated as
    // definitely-new below (a null key never equi-joins history).
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // The expression clamps to the runtime-bloom-filter conf caps via
    // Math.min (verified in BloomFilterAggregate's lazy init) — a
    // too-small cap silently saturates the sketch, so enforce the
    // requested sizing loudly at the contract boundary instead.
    val spark0 = newDocs.sparkSession
    val maxItems = spark0.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = spark0.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"bloomPrefilteredIncremental: expectedItems=$expectedItems " +
        s"(numBits=$numBits at fpp=$fpp) exceeds the session caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits) and would be " +
        "SILENTLY clamped into a saturated sketch — raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
        "maxNumBits, or shard the history by digest prefix")
    val bfAgg = column(new BloomFilterAggregate(
      new XxHash64(Seq(expression(col("__h")))),
      expression(lit(expectedItems)), expression(lit(numBits)))
      .toAggregateExpression())
    val bfRow = historyDigests
      .select(col(digestCol).as("__h"))
      .filter(col("__h").isNotNull)
      .select(bfAgg.as("bf"))
      // single-row driver collect BY CONSTRUCTION (full aggregate of
      // the digest frame): only the merged sketch bytes come back —
      // the probe needs it as a foldable literal (might_contain's
      // analysis contract), exactly how Spark's own runtime filters
      // inline the built sketch into the probe side's plan.
      .collect()
    val bfBytes: Array[Byte] =
      if (bfRow.isEmpty || bfRow(0).isNullAt(0)) null
      else bfRow(0).getAs[Array[Byte]](0)
    def mightContain(c: Column): Column =
      if (bfBytes == null) lit(false) // empty history: nothing matches
      else column(BloomFilterMightContain(
        expression(lit(bfBytes)), new XxHash64(Seq(expression(c)))))
    val withFp = newDocs
      .withColumn("__fp", textDigest(col(textCol)))
      .withColumn("__maybe",
        col("__fp").isNotNull && mightContain(col("__fp")))
    // Same-digest rows get the same bloom verdict, so the two branches
    // partition the batch BY DIGEST — the final within-batch dedup
    // window sees every copy of a digest on one side or the other.
    val definiteNew = withFp.filter(!col("__maybe"))
    val verifiedNew = withFp.filter(col("__maybe"))
      .join(historyDigests.select(col(digestCol).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    definiteNew.unionByName(verifiedNew)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__maybe", "__rn")
  }

  /** Near-duplicate pairs via MinHash LSH, verified against the true
    * token-set Jaccard of the candidate pairs only.
    *
    * NOTE: documents shorter than `shingleN` tokens have no shingles
    * (matching the oracle's n-gram semantics) and are therefore
    * invisible to the MinHash family — route short docs through
    * [[exact]] (or [[jaccardPairs]], which uses
    * single tokens) if they must be deduplicated too.
    *
    * EAGER: runs the full near-dup job at call time and returns a
    * persisted pair frame that the caller owns — `unpersist()` it when
    * done (see [[withCleanup]]).
    */
  def minHashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7): DataFrame =
    minHashNearPairs(docs, idCol, textCol, shingleN, threshold)(
      signaturesFromShingleSets(_, idCol, numHashes),
      minHashCandidatePairs(_, idCol, numHashes, bands))

  // ---- Portable (cross-engine) MinHash ------------------------------
  // The xxhash64 family above is Spark-internal; this variant derives
  // its hash family from md5 — computable bit-identically in DuckDB —
  // so the WHOLE MinHash LSH pipeline (signatures, banding, candidate
  // pairs, verified jaccard) is oracle-checkable, not just rows-only.

  val PortableP: Long = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) pairs for h_i(m) = (a_i*m + b_i) mod P.
    * a_i*m stays < 2^62: no overflow in either engine's BIGINT.
    */
  def portableSeeds(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      (((2L * i + 1) * 1000003L) % PortableP, (7919L * i + 13L) % PortableP)
    }

  /** 60-bit integer from the md5 of a shingle, reduced mod P — the
    * portable base hash (`('0x' || substr(md5(s),1,15))::BIGINT` in
    * DuckDB; here the codegen'd [[graft.functions.Md5Ops]],
    * which reads the digest bytes directly instead of allocating and
    * re-parsing a hex string per shingle).
    */
  def portableBaseHash(sh: Column): Column =
    graft.functions.HashExprs.md5Prefix60(sh) % PortableP

  private def portableSignaturesFromShingleSets(
      sets: DataFrame, idCol: String, numHashes: Int): DataFrame =
    minSignatures(
      sets.select(col(idCol), explode(col("__set")).as("__sh"))
        .withColumn("__m", portableBaseHash(col("__sh"))),
      idCol,
      portableSeeds(numHashes).map { case (a, b) =>
        (col("__m") * a + b) % PortableP
      })

  /** Candidate pairs with engine-portable band keys: the key is the
    * ':'-joined slot values themselves (no engine-specific band hash),
    * so the candidate SET is identical across engines. Only ids ride
    * the candidate shuffle.
    */
  def portableCandidatePairs(
      signatures: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandPairs(
        explodeBands(signatures, Seq(idCol),
          minHashBandCells(numHashes, bands, "bk")(s => concat_ws(":", s: _*)),
          "bk", "__bk"),
        Seq("__band", "__bk"),
        Seq(col(idCol).as("id_a")), Seq(col(idCol).as("id_b")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

  /** Oracle-checkable MinHash near-dup pairs: portable signatures →
    * portable banding → true-jaccard verification.
    *
    * EAGER: returns a persisted pair frame the caller owns —
    * `unpersist()` it when done (see [[withCleanup]]).
    */
  def portableMinHashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    minHashNearPairs(docs, idCol, textCol, shingleN, threshold)(
      portableSignaturesFromShingleSets(_, idCol, numHashes),
      portableCandidatePairs(_, idCol, numHashes, bands))

  /** Pair-table evaluation — precision/recall of a CANDIDATE pair set
    * against a TRUTH pair set (both normalized to unordered pairs):
    * the dedup analog of [[Similarity.recallAtK]], closing the
    * "measure, don't guess" loop for the approximate dedup paths
    * (how much do the LSH candidates actually recover, and how much
    * of what they flag is real). One normalize-distinct per side +
    * one pair-keyed full-outer join + a one-row aggregate — scales
    * with the PAIR tables, never the corpus.
    *
    * Output: one row (n_truth, n_candidates, n_hits, precision,
    * recall) — counts exact, ratios single IEEE divisions.
    */
  def pairEval(
      truth: DataFrame, ta: String, tb: String,
      cand: DataFrame, ca: String, cb: String): DataFrame = {
    def norm(df: DataFrame, a: String, b: String) = df.select(
      least(col(a), col(b)).as("__a"),
      greatest(col(a), col(b)).as("__b")).distinct()
    norm(truth, ta, tb).withColumn("__t", lit(1L))
      .join(norm(cand, ca, cb).withColumn("__c", lit(1L)),
        Seq("__a", "__b"), "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("__c"), lit(0L))).as("n_candidates"),
        sum(coalesce(col("__t"), lit(0L)) * coalesce(col("__c"), lit(0L)))
          .as("n_hits"))
      .withColumn("precision",
        col("n_hits").cast("double") / col("n_candidates").cast("double"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))
  }

  /** Cross-source duplication matrix — which sources copy from which:
    * near-dup PAIRS (any [[Dedup]] builder) joined to each side's
    * source label and counted per (source_a, source_b) cell, both
    * orientations normalized so the matrix is upper-triangular-with-
    * diagonal (within-source duplication sits on the diagonal). The
    * table a crawl-dedup owner reads before deciding which source to
    * demote. Pair-table-sized work: two id-keyed label joins + one
    * bounded-cell aggregate.
    */
  def sourceDupMatrix(
      pairs: DataFrame, aCol: String, bCol: String,
      docs: DataFrame, idCol: String, sourceCol: String): DataFrame = {
    val lab = docs.select(col(idCol).cast("long").as("__id"),
      col(sourceCol).as("__src"))
    pairs
      .join(lab.withColumnRenamed("__src", "__sa"),
        col(aCol).cast("long") === col("__id")).drop("__id")
      .join(lab.withColumnRenamed("__src", "__sb"),
        col(bCol).cast("long") === col("__id")).drop("__id")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The SimHash signature table (id, simhash) both families share:
    * whitespace tokens hashed to `hashCol` by `tokenHash`; bit i of the
    * signature is set when `bitSet(i)` holds for more of the doc's
    * tokens than not — one conditional-sum aggregation per bit, one
    * shuffle keyed on `idCol`, the set bits folded by `combine`.
    */
  private def simHashTable(
      docs: DataFrame, idCol: String, textCol: String,
      hashCol: String, tokenHash: Column, bitSet: Seq[Column],
      combine: (Column, Column) => Column): DataFrame = {
    val exploded = docs.select(
      col(idCol), explode(split(trim(lower(col(textCol))), " ")).as("__tok"))
      .withColumn(hashCol, tokenHash)
    val bitSums = bitSet.zipWithIndex.map { case (set, i) =>
      sum(when(set, 1).otherwise(-1)).as(s"__b$i")
    }
    val sums = exploded.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = bitSet.indices.map { i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(combine)
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** The 60-bit portable SimHash signature table (id, simhash): bit i
    * is the sign of Σ_tokens ±1 by bit i of the md5-prefix token hash.
    * Specs use it as the brute-force reference for the miners' pairs.
    */
  private[graft] def portableSimHashSignatures(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashTable(docs, idCol, textCol,
      "__m", graft.functions.HashExprs.md5Prefix60(col("__tok")),
      (0 until 60).map(i =>
        shiftrightunsigned(col("__m"), i).bitwiseAND(lit(1L)) === 1L),
      _ + _)

  /** The pigeonhole band cells of a SimHash signature column: one
    * struct(band, bk) per band, where bk is the band's `width` bits of
    * the signature (unsigned shift so the sign bit never smears across
    * bands). ONE definition shared by both miners and the
    * `tools.CellDiag` census so the banding the gate-tuning docs tell
    * deployments to census can never desynchronize from the banding
    * the miners join on.
    */
  private[graft] def simHashBandCells(
      nBands: Int, width: Int, sigCol: Column): Seq[Column] =
    (0 until nBands).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        shiftrightunsigned(sigCol, bIdx * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bk"))
    }

  /** Hot-cell gate default of the SimHash miners' `gridThreshold`
    * (measured-then-chosen; a caller re-gates by passing the argument —
    * `tools.CellDiag` derives the value from a cell census).
    */
  private[graft] val defaultGridThreshold: Int = 8192

  /** The SimHash near-dup miner both variants share: persist the
    * signature table `sigs` (id, simhash) and count it —
    * the count materializes the cache AND bounds every band cell (a cell
    * can't hold more rows than there are signatures), so corpora under
    * the grid threshold skip the hot-cell gate job entirely. Then band
    * the signature into `nBands` cells of `width` bits (the cell value
    * named `bandKey`), self-join on (band, value) through the
    * count-gated salt grid of [[gridSelfJoin]] (identical pair multiset,
    * verify work spread over the grid), and keep the pairs whose
    * `distance` is within `maxDist`.
    *
    * The Σ n_v² ≈ bands·n²/2^width candidate count is the operator's
    * distance-`maxDist` recall guarantee (pigeonhole: a pair within
    * maxDist agrees on at least one full band) and stays — the band
    * structure cannot grow with the corpus (SCALING.md); what must NOT
    * stay is every hot band value's m² verifies landing on one reducer.
    */
  private def simHashNearPairs(
      sigs: DataFrame, idCol: String,
      nBands: Int, width: Int, bandKey: String, maxDist: Int,
      gridThreshold: Int, distance: Column): DataFrame = {
    val cached = sigs.persist()
    val nSigs = cached.count()
    val banded = explodeBands(cached, Seq(idCol, "simhash"),
      simHashBandCells(nBands, width, col("simhash")), "bk", bandKey)
    val result = gridSelfJoin(banded, Seq("__band", bandKey),
        Seq(idCol -> "id_a", "simhash" -> "__sig_a"),
        Seq(idCol -> "id_b", "simhash" -> "__sig_b"),
        gridThreshold, maxCellBound = Some(nSigs))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", distance)
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
    withCleanup(result, Seq(cached))
  }

  private def sigHamming: Column =
    bit_count(col("__sig_a").bitwiseXOR(col("__sig_b")))

  /** Oracle-checkable SimHash: 60-bit signatures from the md5-derived
    * token hash (the 60 bits of [[portableBaseHash]] BEFORE the mod-P
    * reduction), banded 6×10 bits for Hamming distance ≤ 5. Same
    * pigeonhole guarantee as the 64-bit variant; every step computable
    * bit-identically in DuckDB. 10-bit bands (1,024 values each) make
    * hot band cells certain past ~10⁶ docs.
    *
    * EAGER: returns a persisted pair frame the caller owns —
    * `unpersist()` it when done (see [[withCleanup]]).
    */
  def portableSimHashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      gridThreshold: Int = defaultGridThreshold): DataFrame =
    simHashNearPairs(
      portableSimHashSignatures(docs, idCol, textCol),
      idCol, nBands = 6, width = 10, bandKey = "__bk",
      maxDist = 5, gridThreshold, sigHamming.cast("long"))

  /** 64-bit SimHash over whitespace tokens: bit i of the signature is
    * the sign of Σ_tokens (±1 by bit i of xxhash64(token)). Built from
    * 64 conditional-sum aggregations — one shuffle keyed on the doc id.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashTable(docs, idCol, textCol,
      "__h", xxhash64(col("__tok")),
      (0 until 64).map(i => col("__h").bitwiseAND(lit(1L << i)) =!= 0),
      _.bitwiseOR(_))

  /** SimHash near-dup pairs within Hamming distance `maxDist`. The 64
    * bits are banded into `maxDist + 1` bands: any pair within distance
    * maxDist must agree on at least one full band (pigeonhole), so
    * candidates come from an equi-join on (band, band_bits), then the
    * exact `bit_count(xor)` filter keeps true matches.
    *
    * Corpus-scale posture: same story as the portable miner, delayed
    * ~2⁶×. At the default maxDist=3 the bands are 16-bit, so the
    * intrinsic collision term is n²/2¹⁶ instead of n²/2¹⁰ — the
    * quadratic bites at ~8× the corpus size (measured: 4.2× at 30×
    * where the portable miner read 22×) but it bites, because the
    * band structure is pinned by the distance guarantee: signature
    * width and maxDist fix the bands, every same-band-value pair must
    * be verified, and [[gridSelfJoin]] only balances that work.
    * Deployments past that point scope the band key to a locality
    * domain (source, day) where dups live, or run
    * [[minHashNearDuplicates]] corpus-wide.
    *
    * EAGER: returns a persisted pair frame the caller owns —
    * `unpersist()` it when done (see [[withCleanup]]).
    */
  def simHashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3,
      gridThreshold: Int = defaultGridThreshold): DataFrame =
    simHashNearPairs(simHash(docs, idCol, textCol), idCol,
      nBands = maxDist + 1, width = 64 / (maxDist + 1), bandKey = "__bits",
      maxDist, gridThreshold, sigHamming)

  /** LSH banding S-curves: P(candidate | jaccard = s) = 1 − (1 − s^r)^b
    * for each (bands b, rows-per-band r) configuration, tabulated over
    * a similarity grid — the design aid for choosing MinHash banding
    * (where does the curve's knee sit vs the dedup threshold?). The
    * knee lives near (1/b)^(1/r); steeper r ⇒ fewer false candidates,
    * more bands ⇒ higher recall. Pure closed-form math (no data), but
    * shipped as a DataFrame so it joins/plots like any other table and
    * cross-checks bit-identically against the oracle's formula.
    */
  def lshCandidateCurve(
      spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)], gridSteps: Int = 19): DataFrame = {
    require(configs.nonEmpty, "at least one (bands, rows) config")
    require(gridSteps >= 1, s"gridSteps must be >= 1: $gridSteps")
    import spark.implicits._
    val cfg = configs.toDF("bands", "rows_per_band")
    cfg
      .crossJoin(spark.range(1, gridSteps + 1).toDF("__i"))
      .select(
        col("bands"), col("rows_per_band"),
        round(col("__i") * lit(1.0 / (gridSteps + 1)), 6).as("s"))
      .withColumn("p_candidate",
        round(lit(1.0) -
          pow(lit(1.0) - pow(col("s"), col("rows_per_band").cast("double")),
            col("bands").cast("double")), 6))
  }

  /** Per-document cross-corpus duplication share: the fraction of a
    * document's distinct n-gram shingles that ALSO appear in at least
    * one other document. The document-granular complement of the pair
    * miners: a doc can be 60% recycled boilerplate without having any
    * single near-duplicate partner — pair mining misses it, this
    * catches it. Standard filter signal in web-corpus curation
    * ("drop docs whose duplicated-ngram share exceeds x").
    *
    * Output per doc (docs with ≥ n tokens): (id, n_shingles, n_shared,
    * dup_share 6 dp).
    *
    * Scale shape: one shingle explode (the codegen'd
    * [[graft.functions.WordShingleOps]] kernel, distinct per doc), a
    * shingle-keyed document-frequency aggregate (map-side combinable),
    * a co-keyed join back, one doc-keyed aggregate. Everything joins
    * on the shingle or the doc id — never a pair space.
    */
  def crossDocShingleShare(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val ex = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingles(col(textCol), shingleN)).as("__sh"))
    val docFreq = ex.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
    ex.join(docFreq, "__sh")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_share",
        round(col("n_shared").cast("double") /
          col("n_shingles").cast("double"), 6))
  }

  /** Token-set Jaccard near-dup pairs via a prefix-filtered
    * set-similarity join (the PPJoin/AllPairs family — Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08).
    *
    * Never enumerates the |Q|·|C| pair space. Plan:
    *   1. token document-frequency table over the corpus (one count agg);
    *   2. order each doc's tokens by ascending (df, token) — a single
    *      GLOBAL token order, rarest first — and keep only the PREFIX of
    *      the first floor((1-t)·n)+1 tokens. Prefix-filter lemma: two
    *      sets with jaccard >= t must share at least one prefix token
    *      under any common total order, so
    *   3. candidate pairs come from a shuffled EQUI-JOIN on prefix
    *      tokens (rare tokens ⇒ low fan-out and no hot keys), deduped,
    *      length-filtered (jaccard >= t ⇒ t·max(|a|,|b|) <= min), and
    *   4. verified exactly with a sorted-merge intersection on the full
    *      lexicographically-sorted token sets.
    *
    * Every stage is a shuffle-partitioned join/agg/window keyed on doc
    * or token — nothing is broadcast or driver-collected, so the same
    * plan holds when BOTH sides are 100 TB-scale.
    *
    * Contract notes: the plan is STATELESS — each side's tokenize
    * projection is recomputed by the df and prefix stages rather than
    * cached, so repeated calls leave no storage residue; callers
    * looping over one corpus can pre-persist their own prepped frame.
    * Tokens are whitespace-split; for n-gram (shingle) Jaccard,
    * shingle the text into a column first.
    *
    * The sorted token ARRAYS ride along through the prefix explode and
    * the candidate join, so verification is an inline merge walk on the
    * joined row — no re-join of the corpus per candidate. That widens
    * the candidate shuffle by two token arrays per row (fine for the
    * chunked/normalized docs a training pipeline feeds this — tens to
    * hundreds of tokens); for megabyte documents, shingle/chunk first
    * rather than passing raw text. Measured: inline verify cut the
    * sf0.1 near-dup-rich case (880 k candidates) from ~5 s to ~2 s by
    * removing two shuffle joins and a second corpus tokenize.
    */
  /* Output orientation contract: one row per unordered pair. When
   * querySide ⊆ corpus (the self-dedup pattern) doc_a < doc_b; when
   * the sides are disjoint (incremental pattern) doc_a is the
   * query-side id and doc_b the corpus-side id regardless of order. */
  def jaccardPairs(
      corpus: DataFrame, querySide: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    // Token sets are SORTED once per document, so the per-pair
    // verification below is a pure merge walk (no hash set, no per-pair
    // allocation — measured ~2x on a large pair scan).
    def prep(d: DataFrame, suffix: String) = d.select(
      col(idCol).as(s"doc_$suffix"),
      array_sort(array_distinct(split(trim(lower(col(textCol))), " ")))
        .as(s"toks_$suffix"))
      .withColumn(s"n_$suffix", size(col(s"toks_$suffix")))
    val q = prep(querySide, "a")
    val c = prep(corpus, "b")

    // Corpus token document frequencies. Query-side tokens missing from
    // the corpus get df 0 (coalesce below) — still one consistent global
    // token order on both sides, which is all the lemma needs.
    val dfTable = c.select(explode(col("toks_b")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))

    // Prefix of each doc under the (df, token) order. row_number is
    // windowed PER DOC — partitions stay small at any corpus size.
    // Prefix length must be >= n - ceil(t·n) + 1 for the lemma to hold;
    // (1-t)·n in floating point can land one ULP BELOW the exact value
    // (e.g. t=0.8, n=5: 0.19999…·5 = 0.999… floors to 0, losing a
    // required prefix token and silently dropping true pairs). The +1e-9
    // nudges rounding toward a LONGER prefix — always safe (a superset
    // of candidates; verification prunes), never short.
    def prefixToks(side: DataFrame, id: String, toks: String, n: String) = {
      val w = Window.partitionBy(col(id))
        .orderBy(col("__df").asc, col("__tok").asc)
      side.select(col(id), col(n), explode(col(toks)).as("__tok"))
        .join(dfTable, Seq("__tok"), "left")
        .withColumn("__df", coalesce(col("__df"), lit(0L)))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <=
          floor(lit(1.0 - threshold) * col(n) + lit(1e-9)).cast("int") + 1)
        .select(col(id), col(n), col("__tok"), col("__r"))
    }
    val pq = prefixToks(q, "doc_a", "toks_a", "n_a")
      .withColumnRenamed("__r", "__r_a")
    val pc = prefixToks(c, "doc_b", "toks_b", "n_b")
      .withColumnRenamed("__r", "__r_b")

    // Candidate generation: equi-join on the prefix token, then three
    // NARROW-row prunes before anything touches a token array:
    //   - length filter: jaccard >= t forces t·max(n_a,n_b) <= min;
    //   - PPJoin positional filter: the tokens before position r in a
    //     doc's (df, token) order cannot contribute overlap beyond this
    //     match, so overlap <= 1 + min(n_a - r_a, n_b - r_b); jaccard
    //     >= t needs overlap >= ceil(t/(1+t)·(n_a+n_b)) — prune pairs
    //     whose upper bound cannot reach it (Xiao et al. WWW'08 §3.2).
    // The pair dedup stays NARROW (ids only) and hash-aggregates; each
    // surviving pair is verified exactly ONCE by re-joining the token
    // sets. (Verifying inline on the joined stream was measured 3x
    // slower here: near-dup-rich data shares ~10 prefix tokens per
    // pair, so inline verify repeats the intersection per shared
    // token; and carrying arrays into the dedup forces SortAggregate.)
    val overlapReq = ceil(
      lit(threshold / (1.0 + threshold)) *
        (col("n_a") + col("n_b")) - lit(1e-9))
    // Pair dedup is on the UNORDERED pair with a DETERMINISTIC
    // orientation (min doc_a over the orientations that survive the
    // prunes). A plain `doc_a < doc_b` filter here silently dropped
    // every pair whose query-side id exceeds its corpus-side id — an
    // incremental caller with new ids ABOVE the history's got an
    // empty result with no error. When querySide ⊆ corpus both
    // orientations arrive and the aggregate keeps (lo, hi) — the same
    // rows the old filter kept; when the sides are disjoint only the
    // (query, corpus) orientation exists and is kept as-is, so the
    // verification joins (q on doc_a, c on doc_b) always find their
    // docs.
    val cands = pq.join(pc, Seq("__tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")).cast("double") * threshold &&
        lit(1) + least(col("n_a") - col("__r_a"), col("n_b") - col("__r_b"))
          >= overlapReq)
      .groupBy(
        least(col("doc_a"), col("doc_b")).as("__lo"),
        greatest(col("doc_a"), col("doc_b")).as("__hi"))
      .agg(min(col("doc_a")).as("__a0"))
      .select(
        col("__a0").as("doc_a"),
        when(col("__a0") === col("__lo"), col("__hi"))
          .otherwise(col("__lo")).as("doc_b"))

    // Exact verification on candidates only.
    val inter = graft.functions.ArrayExprs.sortedIntersectSize(
      col("toks_a"), col("toks_b"))
    cands
      .join(q, "doc_a")
      .join(c, "doc_b")
      .withColumn("jaccard", inter.cast("double") /
        (col("n_a") + col("n_b") - inter).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Embedding-cosine near-dup pairs ≥ threshold (id_a < id_b), exact
    * within the bounded query side. The unbounded scale path is
    * [[embeddingNearDuplicatesLsh]].
    */
  def embeddingNearDuplicates(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, queryMax: Long): DataFrame = {
    val a = Similarity.withNorm(emb.filter(col(idCol) < queryMax).select(
      col(idCol).as("id_a"), col(vecCol).as("__va")), "__va", "__na")
    val b = Similarity.withNorm(emb.select(
      col(idCol).as("id_b"), col(vecCol).as("__vb")), "__vb", "__nb")
    cosinePairs(b.join(broadcast(a), col("id_a") < col("id_b")), threshold)
  }

  /** (id_a, id_b, cosine) of the joined embedding pairs whose 6-dp
    * cosine reaches `threshold`.
    */
  private def cosinePairs(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("cosine", Similarity.pairCosine("__va", "__na", "__vb", "__nb"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** Embedding-cosine near-dup with BOTH sides unbounded: bucket every
    * vector with [[Similarity.lshBucket]] (sign-LSH — near-identical
    * vectors land in the same bucket with high probability), equi-join
    * on the bucket id, verify candidates with the exact cosine. The
    * pair space shrinks from |C|²/2 to Σ_buckets n_b²/2 — one shuffle
    * equi-join that AQE can re-plan for bucket skew; nothing is
    * broadcast or bounded. Recall is traded for scale: only same-bucket
    * pairs are reported (raise bits to shrink buckets, lower to raise
    * recall).
    */
  def embeddingNearDuplicatesLsh(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, bits: Int = 4): DataFrame = {
    val bucketed = emb.select(
      col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), dim, bits).as("__bucket"))
    val a = Similarity.withNorm(bucketed.select(col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__bucket")), "__va", "__na")
    val b = Similarity.withNorm(bucketed.select(col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__bucket")), "__vb", "__nb")
    cosinePairs(a.join(b, Seq("__bucket")).filter(col("id_a") < col("id_b")),
      threshold)
  }

  // ---- Pair -> cluster collapse -------------------------------------

  /** Collapse near-duplicate PAIRS into clusters: connected components
    * of the pair graph, labeled by the component's MINIMUM doc id (the
    * canonical representative). This is the step every dedup pipeline
    * needs after candidate pairs — transitive closure (a~b, b~c ⇒ keep
    * one of {a,b,c}), not per-pair filtering.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels (one
    * equi-join + one min-aggregate per round, both keyed on the node
    * id), until a fixpoint. Rounds needed = graph diameter; LSH near-dup
    * graphs are short chains/cliques, so this converges in a handful of
    * rounds. For adversarial long-chain graphs at extreme scale, switch
    * to the alternating large-star/small-star formulation (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * same join shape, O(log²) rounds.
    *
    * The driver loop only checks a converged COUNT per round (no data
    * collected); each round's labels are persisted and the previous
    * round's freed.
    *
    * Output: (id, cluster_rep) for every node that appears in a pair;
    * cluster_rep = min id of its component — deterministic regardless
    * of partitioning.
    *
    * EAGER: the fixpoint loop runs at call time; the returned frame is
    * persisted and caller-owned — `unpersist()` it when done.
    */
  def clusterPairs(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // Ids must cast to long EXACTLY: a string/URL/hash id silently
    // casts to null (non-ANSI), every edge collapses onto the null
    // key, and clustering degrades to a no-op with no error — map
    // non-integral ids to a surrogate long first. raise_error makes
    // that caller bug loud at the first edge.
    def asId(c: Column, name: String) = {
      val v = c.cast("long")
      when(v.isNull, raise_error(concat(
        lit(s"clusterPairs: $name id not integral (or null): "),
        coalesce(c.cast("string"), lit("null")),
        lit(" — map ids to longs first")))).otherwise(v)
    }
    val edges = pairs
      .select(asId(col(aCol), aCol).as("__s"), asId(col(bCol), bCol).as("__d"))
      .union(pairs
        .select(asId(col(bCol), bCol).as("__s"), asId(col(aCol), aCol).as("__d")))
      .distinct()
      .persist()
    var labels = edges
      .groupBy(col("__s").as("id"))
      .agg(min(col("__d")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("cluster_rep"))
      .persist()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("__d"), col("cluster_rep").as("__nc")), "__d")
        .groupBy(col("__s").as("id"))
        .agg(min(col("__nc")).as("__nm"))
      // planLeaf: per-round analyzed plans stay O(1) deep instead of
      // accumulating the full round history (the O(rounds²) planning
      // tax measured on PageRank); RDD lineage survives for
      // recompute-on-block-loss.
      val next = org.apache.spark.sql.GraftExpressionBridge.planLeaf(labels
        .join(neighborMin, Seq("id"))
        .select(col("id"),
          least(col("cluster_rep"), col("__nm")).as("cluster_rep")))
        .persist()
      val changed = labels
        .join(next.select(col("id"), col("cluster_rep").as("__r2")), "id")
        .filter(col("cluster_rep") =!= col("__r2"))
        .count() // also materializes `next`
      labels.unpersist(blocking = false)
      labels = next
      converged = changed == 0
      i += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false) // don't leak cache on failure
      throw new IllegalStateException(
        s"clusterPairs did not converge in $maxIter rounds — graph diameter " +
          "exceeds the cap; raise maxIter or use a star-contraction variant")
    }
    labels
  }

  /** End-to-end near-dup collapse: keep exactly one document per
    * cluster (the min-id representative) plus every unpaired document.
    * `pairs` is any of the near-dup builders' outputs over `docs`.
    */
  def collapseNearDuplicates(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // clusterPairs' labels cache is consumed INTERNALLY here, so the
    // caller has no handle to free it — materialize the survivors and
    // release it (withCleanup), or repeated collapses leak one cached
    // labels frame per call for the session's life. EAGER result,
    // caller-owned persist (the Dedup convention).
    val comp = clusterPairs(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_rep"))
    withCleanup(
      docs.join(comp, Seq(idCol), "left")
        .filter(col("cluster_rep").isNull || col("cluster_rep") === col(idCol))
        .drop("cluster_rep"),
      Seq(comp))
  }

  /** Quality-aware near-dup collapse — [[collapseNearDuplicates]]
    * keeps each cluster's MIN-ID doc (reproducible without any score);
    * this keeps its BEST doc by `scoreCol` (desc, ties by id asc),
    * the CCNet convention: when a page and its boilerplate-mangled
    * re-crawl collide, keep the clean one, not the earliest one.
    *
    * One struct-max per cluster (the [[graft.ops.Linkage]]
    * survivorship shape — no window over members) decides the
    * survivor; unpaired docs survive as themselves. Same shuffle
    * classes as the min-id form plus one bounded cluster aggregate.
    */
  def collapseNearDuplicatesBest(
      docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Same internal-cache contract as [[collapseNearDuplicates]]:
    // EAGER result, labels cache released here.
    val comp = clusterPairs(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_rep"))
    val keyed = docs.join(comp, Seq(idCol), "left")
      .withColumn("__entity",
        coalesce(col("cluster_rep"), col(idCol).cast("long")))
    val winners = keyed
      .groupBy(col("__entity"))
      .agg(max(struct(col(scoreCol).as("s"),
        (-col(idCol).cast("long")).as("nid"))).as("__w"))
      .select(col("__entity"), (-col("__w.nid")).as("__keep"))
    withCleanup(
      keyed.join(winners, Seq("__entity"))
        .filter(col(idCol).cast("long") === col("__keep"))
        .drop("__entity", "__keep", "cluster_rep"),
      Seq(comp))
  }

  // ---- Edit-distance (typo) dedup -----------------------------------

  /** Distinct-string pairs within Levenshtein distance 1 — the fuzzy
    * key dedup (typo'd titles, OCR'd names, near-identical SKUs) that
    * token-set Jaccard cannot see (one char flip in a single-token key
    * is invisible to shingles, fatal to exact matching).
    *
    * Candidate generation is the FastSS deletion neighborhood (Bocek
    * et al., 2007): every string s generates {s} ∪ {s minus one char}.
    * Two strings within edit distance 1 ALWAYS share a variant —
    *   - substitution at i: deleting i from both sides coincides;
    *   - insertion/deletion: deleting the inserted char from the longer
    *     side yields the shorter one, which is its own variant —
    * so an equi-join on the variant string is a COMPLETE candidate
    * generator for d ≤ 1 (a superset: distance-2 pairs can also
    * collide; the exact `levenshtein` verify prunes them).
    *
    * Scale shape: dedup to distinct strings first (typo domains are
    * far smaller than corpora), explode ×(len+1), one shuffled
    * equi-join on the variant — never an all-pairs product, no
    * broadcast assumptions; variant-key compute skew is handled
    * explicitly by [[gridSelfJoin]] (8×-core fan-out always, salt grid
    * for mega-keys at `gridThreshold`). Output: (name_a, name_b,
    * dist), name_a < name_b.
    *
    * EAGER: returns a persisted pair frame the caller owns —
    * `unpersist()` it when done (see [[withCleanup]]).
    */
  def editDistancePairs(
      df: DataFrame, strCol: String, gridThreshold: Int = 2048): DataFrame = {
    // The variant join is fanned out by [[gridSelfJoin]] over 8×
    // core-count reducers, NOT the session shuffle default: within one
    // variant key the join does m² levenshtein verifies, so the
    // stage's cost lives in rows OUT of the reducer while AQE's skew
    // split reads bytes INTO it — a hot digit-heavy bucket is a few MB
    // of strings but minutes of verify, and no byte threshold ever
    // fires (measured at 30× sf0.1: 65 s with 32 cpus-sized reducers
    // even with skew-split thresholds at 32 MB / factor 2, because the
    // hot partitions sit far below any byte trigger). The explicit
    // fan-out spreads the MANY hot keys across reducers (the measured
    // pathology: several hot variant buckets co-resident on 32 coarse
    // reducers); a SINGLE mega-key (count ≥ gridThreshold, e.g. a
    // digit-heavy id domain where thousands of strings share one
    // deletion variant) additionally goes through the salt grid so its
    // m² verifies spread over up to salt² reducers instead of
    // serializing on one. At the measured corpora hot keys are in the
    // hundreds of rows, so the default 2048 gate keeps normal corpora
    // on the plain fanned path — they pay only the gate: one hash
    // exchange on __v (its own shuffle at the session partition count;
    // the join's fan-out exchange is separate and cannot be reused
    // across the gate's driver-side collect) over the persisted
    // variants cache.
    val s = col("__s")
    // Verify BEFORE the pair dedup: near-dup-dense domains (digit ids,
    // SKUs) keep ~98% of candidates distinct, so deduping first pays a
    // hash aggregate over the whole candidate stream while deduping
    // verified survivors is ~5x smaller (measured 6.5 s -> 4.1 s at
    // sf0.1). The threshold form of levenshtein runs the banded DP —
    // O(len) per pair at threshold 1, not O(len^2) — and returns the
    // true distance for survivors (-1 beyond the band, filtered out),
    // so the emitted `dist` is identical to the unbanded form.
    // Persisted so the hot-cell gate job and both join sides read one
    // computed copy instead of re-running the distinct + explode
    // (EAGER result via withCleanup, like the other pair miners).
    val variants = editVariants(df, strCol).persist()
    // sliceTarget = gate/8 keeps EVERY gated cell on the full 8×8 grid
    // (ceil(n/256) ≥ 8 for any n ≥ 2048): levenshtein verifies are the
    // expensive-per-pair kind where more slices always win and the ×8
    // replication of a few-thousand-row cell is noise, so the FastSS
    // miner opts out of the gentle mid-cell grids the SimHash miners'
    // default sliceTarget (1024) exists for.
    val result = gridSelfJoin(variants, Seq("__v"),
        Seq("__s" -> "name_a"), Seq("__s" -> "name_b"), gridThreshold,
        plainFanout =
          Some(df.sparkSession.sparkContext.defaultParallelism * 8),
        sliceTarget = math.max(1, gridThreshold / 8))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1))
      .filter(col("dist") >= 0)
      .dropDuplicates("name_a", "name_b")
      .select("name_a", "name_b", "dist")
    withCleanup(result, Seq(variants))
  }

  /** The FastSS deletion-variant table (__s, __v) behind
    * [[editDistancePairs]]: distinct non-null strings, each exploded to
    * itself plus every single-char deletion. Factored out so the
    * mega-key spec can assert the grid gate fires on the same frame the
    * join consumes.
    */
  private[graft] def editVariants(df: DataFrame, strCol: String): DataFrame = {
    val s = col("__s")
    val names = df.select(col(strCol).as("__s"))
      .filter(s.isNotNull).distinct()
    // variants = s plus each single-char deletion; array_distinct
    // because deleting either of two equal adjacent chars coincides.
    // Empty-string guard: sequence(1, 0) would generate a DESCENDING
    // [1, 0] run (default step -1 — the inverted-interval trap), not an
    // empty one.
    val deletions = when(length(s) > 0,
      transform(
        sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
      .otherwise(array().cast("array<string>"))
    names.select(
      s, explode(array_distinct(concat(array(s), deletions))).as("__v"))
  }

  /** Exact repeated-substring SPANS (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * whole-document dedup misses the pervasive PARTIAL duplication of
    * web corpora (boilerplate headers, quoted paragraphs, licenses), so
    * the substring pass finds every token span whose k-grams all recur
    * in other documents — the regions a curation pipeline cuts or
    * down-weights. (The paper builds a suffix array; the distributed
    * re-expression is a k-gram inverted index, the same recall for
    * spans >= k tokens without a global sort.)
    *
    * Method: positional k-grams per doc ([[graft.functions.WordShingleAllOps]],
    * one codegen'd pass) → a gram is REPEATED if it occurs in >=
    * `minDocs` distinct docs → each doc's repeated-gram start positions
    * merge into maximal spans (classic gaps-and-islands: a new span
    * starts where pos > prev_pos + k, i.e. the previous gram's k-token
    * extent no longer reaches this one).
    *
    * Output: (doc_id-named `idCol`, span_start, span_len, n_grams) —
    * span_start is a 0-based token offset, span_len in tokens
    * (= max_pos + k − span_start), n_grams the merged gram count.
    *
    * Determinism: pure integer positions and exact integer counts — no
    * floats anywhere.
    *
    * Scale shape: grams shuffle as 60-bit md5 prefixes (16 bytes →
    * 8, never the gram text); doc-frequency is a two-level hash
    * aggregate ((hash,doc) then hash — both map-side combinable); the
    * position→repeated-gram filter is a left-semi equi-join on the
    * hash (no broadcast assumption — the repeated-gram table scales
    * with corpus redundancy); span merge windows partition by doc, so
    * frames are bounded by document length, never corpus size.
    */
  def repeatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(graft.functions.TextExprs.wordShinglesAll(col(textCol), k))
          .as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"),
        graft.functions.HashExprs.md5Prefix60(col("__g")).as("__h"))
    val repeated = grams
      .select(col("__h"), col(idCol))
      .distinct()
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val hits = grams.join(repeated, Seq("__h"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__brk",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(byDoc) + lit(k),
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__span", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__span"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k) - min(col("pos"))).cast("long")
          .as("span_len"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_len"), col("n_grams"))
  }

  /** Train-order shingle novelty (the Lee et al. '22 dedup lens): for
    * each document, the fraction of its distinct word `n`-gram
    * shingles whose EARLIEST corpus appearance (min doc id = arrival
    * order) is the document itself. Novelty ~1 = fresh content;
    * novelty ~0 = the document restates what the corpus already holds
    * — the asymmetric, arrival-ordered complement of the symmetric
    * [[crossDocShingleShare]] boilerplate share, and the curve a
    * streaming ingest uses to decide when a source has gone stale.
    *
    * Scale shape: shingles explode → one min-aggregate keyed on the
    * shingle (map-side combinable) → one equi-join back — the exact
    * q_dedup_exact shuffle class, never pairwise. Docs with fewer
    * than `n` words have no shingles and are absent from the output.
    */
  def shingleNovelty(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val sh = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(graft.functions.TextExprs.wordShingles(col(textCol), n))
          .as("__sh"))
    val first = sh.groupBy(col("__sh")).agg(min(col(idCol)).as("__first"))
    sh.join(first, Seq("__sh"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  /** SemDeDup (Abbas et al., 2023): semantic deduplication by
    * clustering the embedding space and pruning near-identical
    * vectors WITHIN each cluster — the scalable middle ground between
    * exact hashes (miss paraphrases) and all-pairs cosine (O(n²)).
    *
    *  1. Cluster with [[Embeddings.kmeans]] (quantized distances +
    *     exact integer centroid sums — assignments bit-reproducible,
    *     which is what lets the whole operator carry a SQL oracle).
    *  2. Within each cluster, pair every vector with each LOWER-id
    *     clustermate (cluster-keyed equi-join), cosine rounded 6 dp
    *     (the repo-wide cross-engine cosine discipline).
    *  3. A vector is pruned iff some lower-id clustermate is within
    *     `threshold` — the deterministic keep-lowest-id tie-break of
    *     the paper's keep-one-per-near-dup-group rule.
    *
    * Scale shape: the only superlinear step is the within-cluster
    * pair join, Σ_c n_c² — SemDeDup's own design lever: pick
    * k ∝ corpus size so E[n_c] is constant and the join is a plain
    * cluster-keyed shuffle (AQE splits a skewed mega-cluster). Pass
    * [[semDeDupK]] of the corpus count as `k` (the inventory query
    * does; measured r13 with k pinned to 8: 18.3× wall at 30× data —
    * the within-cluster pair space itself was the quadratic).
    * Clustering is [[Embeddings.kmeansSpread]]: its init and
    * assignment kernel stay cheap at corpus-sized k, and the chain
    * stays bit-reproducible cross-engine. The kmeans pass is one
    * constant-state aggregate per iteration.
    *
    * Output: one row per vector — (id, cluster, max_prior_sim =
    * max cosine to a lower-id clustermate or null, kept). Ids are
    * assumed unique and non-null (they are ids): duplicate-id rows
    * would collapse into one output row, and null-id rows are dropped
    * (a null id cannot take part in the lower-id pairing order).
    */
  def semDeDup(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, threshold: Double): DataFrame = {
    val (_, assigned) = Embeddings.kmeansSpread(emb, idCol, vecCol, dim, k, iters)
    val base = Similarity.withNorm(
      assigned.select(col(idCol), col(vecCol), col("cluster")), vecCol, "__nrm")
    // Single-eval discipline for the pair-join sides (r18 plan audit):
    // joining on the NULLABLE `cluster` column makes the planner infer
    // `isnotnull(cluster)` and push it below each side's Project, so
    // the O(k·dim) assignment kernel ran TWICE per row per side.
    // coalesce(…, -1) makes the join key non-nullable (the inferred
    // filter folds away); -1 is not a centroid id, so it can only
    // pair null-vector rows, whose cosines are null and drop out of
    // max(). The output's `cluster` restores null via nullif below.
    // The EXPLICIT isnotnull(id) matters for the same plan-shape
    // reason: the left-outer pair condition infers it on the b side
    // only, and that asymmetry would stop the two sides' exchanges
    // canonicalizing equal — with it on the shared frame, AQE stage
    // reuse collapses the b side to a ReusedExchange at scale.
    val joinable = base
      .filter(col(idCol).isNotNull)
      .withColumn("cluster", coalesce(col("cluster"), lit(-1)))
    val a = joinable.select(col(idCol).as("__ida"), col("cluster"),
      col(vecCol).as("__va"), col("__nrm").as("__na"))
    val b = joinable.select(col(idCol).as("__idb"),
      col("cluster").as("__cb"), col(vecCol).as("__vb"),
      col("__nrm").as("__nb"))
    // LEFT OUTER pair join (r18 → r19: kernel evals 3 → 2 static,
    // 2 → 1 at scale): the lower-id pairing rides in the join
    // condition, so every a-row survives into the aggregate — rows
    // with no lower-id clustermate aggregate max(null) = null — and
    // the old third plan branch (re-scan + left join to re-attach
    // loner rows) disappears along with its kernel eval and its
    // (id, cluster) exchange. At scale both remaining kernel sites
    // sit under exchanges that canonicalize equal, and AQE stage
    // reuse collapses the b side to ONE evaluation
    // (plans/r19/q_semdedup_smj_final_after.txt).
    a.join(b, col("cluster") === col("__cb") && col("__idb") < col("__ida"),
        "left")
      .withColumn("__cos", Similarity.pairCosine("__va", "__na", "__vb", "__nb"))
      .groupBy(col("__ida"), col("cluster"))
      .agg(max(col("__cos")).as("max_prior_sim"))
      .select(col("__ida").as(idCol),
        // restore the original assignment column: -1 exists only as
        // the null-key stand-in (centroid ids are 0..k-1)
        nullif(col("cluster"), lit(-1)).as("cluster"),
        col("max_prior_sim"))
      .withColumn("kept",
        col("max_prior_sim").isNull || col("max_prior_sim") < threshold)
  }

  /** Corpus-sized cluster count for [[semDeDup]]: the smallest k
    * keeping the EXPECTED cluster population ≤ 256 (floor 8, capped
    * at n) — k = min(n, max(8, ⌈n/256⌉)). With E[n_c] pinned, the
    * within-cluster pair join does ~n·256 comparisons total — linear
    * in the corpus — where a constant k makes it Σn_c² ≈ n²/k
    * (measured: 18.3× wall at 30× data with k=8). Pure integer
    * arithmetic (ceil via (n+255)/256 truncating division), so the
    * DuckDB oracle reproduces the choice exactly with
    * `LEAST(n, GREATEST(8, (n + 255) // 256))` over a COUNT(*) — the
    * [[Similarity.adaptiveLshBits]] integer-ladder discipline applied
    * to k-means. At the three test SFs (n = 500/500/2000) this is
    * always 8, so the rung only moves on scaled corpora.
    */
  def semDeDupK(n: Long): Int = {
    require(n >= 1, s"semDeDupK needs a non-empty corpus, got $n")
    math.min(n, math.max(8L, (n + 255L) / 256L)).toInt
  }
}
