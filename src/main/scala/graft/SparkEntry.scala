package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Aggregate, AsOf, Prep, RangeJoin, Validate}
import graft.ext.{Behavior, Contamination, Dedup, JsonOps, Multimodal, Olap, Sampling, Similarity, TextStats, Vocab}
import graft.plans.{Ordinal, Prefix}

/** Driver contract — the declared query inventory of SURVEY.md §2.8 plus
  * the [EXT] training-data operators, each with a DuckDB oracle where
  * SQL-expressible.
  *
  * The sensor feed maps onto the `events` table
  * (`timestamp→ts, sensor_id→user_id/event_type, reading→value`,
  * FIXTURES.md §B); the valid-reading range analog is
  * `value ∈ [0.0, 200.0]`.
  *
  * Cross-engine float determinism: non-algebraic aggregates
  * (avg/stddev/sum) are rounded to a fixed precision in BOTH the Spark
  * query and the oracle — Spark's partial aggregation sums in partition
  * order, DuckDB sums sequentially, so raw doubles can differ in the
  * last ulp and would break the driver's hash compare. min/max/count
  * and integer-ratio divisions are exact and left unrounded.
  */
object SparkEntry {

  /** Embeddings-corpus row count per data dir, memoized: the count
    * sizes both the adaptive-LSH rung (Similarity.adaptiveLshBits)
    * and the SemDeDup k ladder (Dedup.semDeDupK), and without the
    * memo every invocation of each corpus-sized query re-ran the
    * counting job. Bench clears it after each timed query, so every
    * timed query pays its own count, not only the first one.
    *
    * CALLER CONTRACT — immutable corpora per JVM: the cache assumes
    * the embeddings table under a given dir does not change while
    * this JVM lives (true for Verify/Bench/Scaling, whose corpora are
    * written once and read many times). A long-lived caller that
    * APPENDS to a corpus dir would keep a stale rung/k — pinning
    * yesterday's bucket granularity onto today's larger corpus — and
    * must call [[clearCorpusSizeCache]] after any write to a dir it
    * will query again (the scaling harness does exactly this after
    * building a scaled corpus into a previously-queried path).
    */
  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embCountFor(dir: String, emb: => DataFrame): Long =
    corpusCountCache.computeIfAbsent(dir,
      _ => Long.box(emb.count())).longValue

  /** Drop every memoized corpus size (see [[corpusCountCache]]'s
    * immutability contract) — call after mutating a corpus dir this
    * JVM has already queried.
    */
  def clearCorpusSizeCache(): Unit = corpusCountCache.clear()

  private def lshBitsFor(dir: String, emb: => DataFrame): Int =
    graft.ext.Similarity.adaptiveLshBits(embCountFor(dir, emb))

  // ---- events-analog validation predicate (V1-V5 on the testdata) ----
  private val ValueLo = 0.0
  private val ValueHi = 200.0

  private def valueValid: Column =
    col("value").isNotNull && col("value").between(ValueLo, ValueHi)

  /** Reference-format error string for the events analog
    * (`pipeline.py:129-137` shape, `%.2f` rendering on both engines —
    * round(2) first so a binary-exact half rounds the same way in
    * Spark and DuckDB; see Olap.render for the full rationale).
    */
  private def valueError(lineNo: Column): Column =
    when(col("value").isNull,
      concat(lit("Row "), lineNo, lit(": 'value' is null.")))
      .when(!col("value").between(ValueLo, ValueHi),
        concat(lit("Row "), lineNo, lit(": 'value' ("),
          format_string("%.2f", round(col("value"), 2)),
          lit(s") out of range [$ValueLo, $ValueHi].")))

  /** events + distributed global line number (1 header line + 1-based
    * data rows — the reference's `index+2` CSV-line semantics).
    */
  private def eventsWithLineNo(s: SparkSession, dir: String): DataFrame =
    Ordinal.withGlobalRowNumber(
      Tables.events(s, dir), Seq(col("event_id")), "row_num")
      .withColumn("line_no", col("row_num") + 1)

  /** Flagship: the reference's whole relational core composed end-to-end
    * on sf0.001 — scan → validate → route clean groups → per-sensor
    * aggregate → unpivot (`pipeline.py` process_file as one Spark plan).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir).withColumn("is_valid", valueValid)
    val routed = Validate.routeValidGroups(ev, Seq("user_id", "event_type"))
    Aggregate.metricAggregates(
      routed, Seq("user_id"), Seq("value"), "ts")
  }

  // =====================================================================
  // Query inventory
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/P3/P6: string-first scan + NA normalization + TRY_CAST back.
    // Values round-trip through each engine's own string rendering; the
    // compared output is the recovered typed columns.
    "q_scan_cast" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val vstr = when(col("user_id") % 10 === 0, lit("N/A"))
        .otherwise(col("value").cast("string"))
      ev.select(
        col("event_id"),
        try_to_timestamp(
          graft.ops.Cleanse.naNormalize(
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")),
          lit("yyyy-MM-dd HH:mm:ss")).as("ts_cast"),
        graft.ops.Cleanse.tryDouble(
          graft.ops.Cleanse.naNormalize(vstr)).as("value_cast"))
    }),

    // P1/P2: rename + fixed-order projection.
    "q_rename_project" -> ((s, dir) =>
      Prep.renameProject(
        Tables.events(s, dir),
        renames = Seq("ts" -> "event_time", "user_id" -> "sensor_id",
          "value" -> "reading"),
        order = Seq("event_id", "event_time", "sensor_id", "reading"))),

    // P4: round-robin tag by global row position (distributed ordinal).
    "q_roundrobin_tag" -> ((s, dir) =>
      Prep.roundRobinTag(
        Tables.events(s, dir).select("event_id"),
        ids = Seq("Kaggle_Weather_01", "Kaggle_Weather_02", "Kaggle_Weather_03"),
        orderKey = col("event_id"), outCol = "sensor_id")),

    // P5: timestamp parse + reformat.
    "q_ts_parse_format" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"), Prep.tsParseFormat(col("ts")).as("ts_fmt"))),

    // F1/V1-V5: conjunction filter.
    "q_validate_filter" -> ((s, dir) =>
      Tables.events(s, dir).filter(
        col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && valueValid)),

    // F2: complement + reference-format error-string synthesis.
    "q_invalid_rows" -> ((s, dir) =>
      eventsWithLineNo(s, dir)
        .filter(!valueValid)
        .select(col("event_id"), col("line_no"),
          valueError(col("line_no")).as("row_errors"))),

    // F3: strict per-file (group) verdict with first-error reason.
    "q_strict_file_flag" -> ((s, dir) =>
      Validate.strictVerdicts(
        eventsWithLineNo(s, dir).withColumn("is_valid", valueValid),
        "event_type", col("line_no"), (bad, _) => bad, valueError)),

    // F4: rows of all-valid (user, event_type) groups only.
    "q_route_valid_groups" -> ((s, dir) =>
      Validate.routeValidGroups(
        Tables.events(s, dir).withColumn("is_valid", valueValid),
        Seq("user_id", "event_type"))
        .drop("is_valid")),

    // F5: dropna(how='any') on derived nullable columns.
    "q_dropna" -> ((s, dir) => {
      val derived = Tables.events(s, dir).select(
        col("event_id"),
        when(col("user_id") % 10 =!= 0, col("user_id")).as("user_id_n"),
        when(col("value") <= ValueHi, col("value")).as("value_n"))
      Validate.dropNaAny(derived, Seq("user_id_n", "value_n"))
    }),

    // A1/A3: per-sensor metric aggregation (long format, one metric).
    "q_agg_metrics" -> ((s, dir) =>
      Aggregate.metricAggregates(
        Tables.events(s, dir), Seq("user_id"), Seq("value"), "ts")
        .withColumn("avg_value", round(col("avg_value"), 6))
        .withColumn("std_dev_value", round(col("std_dev_value"), 6))),

    // A2: 3-metric wide→long unpivot over lineitem.
    "q_unpivot_agg" -> ((s, dir) =>
      Aggregate.metricAggregates(
        Tables.lineitem(s, dir), Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), "l_shipdate")
        .withColumn("avg_value", round(col("avg_value"), 6))
        .withColumn("std_dev_value", round(col("std_dev_value"), 6))),

    // S5/A4: per-group counts against an expected domain (empty groups
    // surface with n_rows = 0).
    "q_empty_check" -> ((s, dir) => {
      import s.implicits._
      val expected = Seq("click", "error", "heartbeat", "purchase",
        "signup", "view").toDF("event_type")
      val counts = Aggregate.groupCounts(
        Tables.events(s, dir), Seq("event_type"))
      expected.join(counts, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .withColumn("is_empty", col("n_rows") === 0)
    }),

    // K2: last-write-wins upsert by unique key.
    "q_upsert_latest" -> ((s, dir) =>
      Prep.upsertLatest(
        Tables.events(s, dir),
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq(col("ts"), col("event_id")))),

    // K6: chunk-id assignment (1000-row chunks).
    "q_chunk_split" -> ((s, dir) =>
      Prep.chunkSplit(
        Tables.events(s, dir).select("event_id"),
        chunkRows = 1000, orderKey = col("event_id"), outCol = "chunk_id")),

    // ----------------------- [EXT] operators -------------------------

    // Exact dedup with deterministic representative.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), Seq("text"), "doc_id")),

    // Token / char / subword counts.
    "q_text_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.uniqueTokenCount(col("text")).cast("long").as("n_unique_tokens"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens"))
    }),

    // JSON property extraction from events.props.
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        JsonOps.extractLong(col("props"), "$.k").as("k_val"))),

    // Event-time tumbling window aggregation (1 hour).
    "q_window_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))),

    // Language-ID heuristic (stopword density).
    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextStats.stopwordRatio(col("text")).as("stop_ratio"),
        TextStats.langId(col("text")).as("predicted_lang"))),

    // Quality scoring.
    "q_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"))),

    // Exact + bag-of-words-normalized fingerprints.
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.normalizedFingerprint(col("text")).as("norm_fp"))),

    // Winnowing (rolling-hash) fingerprint sets — partial-overlap
    // detection (MOSS algorithm), k=3-token grams, window w=4.
    "q_fingerprint_winnow" -> ((s, dir) =>
      TextStats.winnowingFingerprints(
        Tables.documents(s, dir), "doc_id", "text", k = 3, w = 4)),

    // Composite curation pipeline — lang-ID filter → quality gate →
    // exact dedup (min-id representative), as ONE Catalyst plan: the
    // scan computes all scores in a single pass, the only shuffle is
    // the dedup groupBy, and column pruning drops `text` after the agg.
    "q_curate" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("text"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.langId(col("text")).as("lang_pred"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.3)
      // identical text ⇒ identical scores, so min() is exact, not a choice
      scored.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_tokens")).as("n_tokens"),
          min(col("quality")).as("quality"),
          count(lit(1)).as("n_copies"))
        .select("doc_id", "n_tokens", "quality", "n_copies")
    }),

    // Brute-force cosine top-10 for query vectors vec_id < 50.
    "q_sim_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
    }),

    // Token-set Jaccard near-dup pairs (bounded query side).
    "q_dedup_ngram" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.jaccardPairs(
        d, d.filter(col("doc_id") < 200), "doc_id", "text", threshold = 0.5)
    }),

    // [EXT] Exact repeated-substring spans (Lee et al. 2022): maximal
    // token spans whose 8-grams all recur in >=2 docs — the partial-
    // duplication regions whole-doc dedup misses. Positional k-gram
    // index + per-doc gaps-and-islands merge; pure integer output.
    "q_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(
        Tables.documents(s, dir), "doc_id", "text", k = 8, minDocs = 2)),

    // Embedding-cosine near-dup pairs (bounded query side, exact).
    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingNearDuplicates(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, queryMax = 200)),

    // Embedding near-dup, BOTH sides unbounded: sign-LSH bucket
    // equi-join (the 100 TB path), exact-cosine verified. Bits follow
    // the corpus-size ladder — a constant bucket count would make the
    // within-bucket self-join quadratic as the corpus grows.
    "q_dedup_embed_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingNearDuplicatesLsh(
        emb, "vec_id", "embedding",
        threshold = 0.4, dim = 64,
        bits = lshBitsFor(dir, emb))
    }),

    // Multimodal intake inventory over REAL payloads: BMP24 images
    // (even ids) and PCM16 WAVs (odd ids) synthesized byte-for-byte,
    // then format-detected and header-decoded back by MediaCodec —
    // the oracle predicts format/dims/sizes from the synthesis
    // formulas, so the hash only matches if detect + parse + the
    // byte layouts are all exact. (The md5 content digest stays in
    // the decodeMetadata API, spec-tested; it is not oracle-able
    // because DuckDB cannot rebuild the binary payloads.)
    "q_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) {
            val w = (8 + id % 9).toInt
            val h = (5 + id % 7).toInt
            (id, "image", ext.MediaCodec.encodeImage("bmp",
              ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt)))
          } else {
            val n = (200 + id % 100).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 17) % 65536) - 32768).toInt)
            (id, "audio", ext.MediaCodec.synthesizeWavPcm16(16000, samples))
          }
        }).toDF("doc_id", "media_type", "payload")
      Multimodal.decodeMetadata(s, media).toDF
        .select("doc_id", "media_type", "format", "size_bytes",
          "width", "height", "channels")
    }),

    // Batch gaps-and-islands sessionization (30 min gap).
    "q_sessionize" -> ((s, dir) =>
      ext.Analytics.sessionizeBatch(Tables.events(s, dir))),

    // Dimension enrichment via broadcast joins.
    "q_join_enrich" -> ((s, dir) =>
      ext.Analytics.enrich(
        Tables.events(s, dir), Tables.customer(s, dir),
        s.read.parquet(dir + "/nation.parquet"))),

    // Sliding windows (1 h / 15 min) in batch.
    "q_window_sliding" -> ((s, dir) =>
      ext.Analytics.slidingWindowAgg(Tables.events(s, dir))),

    // Fact-fact join + monthly revenue rollup.
    "q_revenue_monthly" -> ((s, dir) =>
      ext.Analytics.revenueMonthly(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),

    // Top-10 users by total value (TakeOrderedAndProject, no global sort).
    "q_topk_users" -> ((s, dir) =>
      ext.Analytics.topKByValue(Tables.events(s, dir), 10)),

    // Hot-key-safe exact distinct count (two-phase dedup-then-count).
    "q_distinct_users" -> ((s, dir) =>
      Aggregate.countDistinctScalable(
        Tables.events(s, dir), Seq("event_type"), "user_id",
        outCol = "n_users")),

    // Curation scrub: mask emails/URLs, strip control chars, collapse
    // whitespace — one codegen'd projection over the corpus.
    "q_text_scrub" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        ext.TextClean.scrub(col("text")).as("clean_text"))),

    // Per-group quantiles — the FLAGSHIP path is the bounded-memory
    // histogram estimator (per-group state = bins, independent of
    // group size); the exact valueQuantiles (percentile(), buffers the
    // group multiset — bounded-group contract only) stays library API.
    "q_quantiles" -> ((s, dir) =>
      ext.Analytics.histogramQuantilesByGroup(
        Tables.events(s, dir), Seq("event_type"), "value", width = 32.0)),

    // [EXT] The oracle-able sketch path of q_quantiles: fixed-width
    // histogram bins (bounded memory at any row count), distributed
    // prefix-sum CDF, in-bin uniform interpolation on exact integers.
    "q_quantile_hist" -> ((s, dir) =>
      ext.Analytics.histogramQuantiles(
        Tables.events(s, dir), "value", width = 32.0)),

    // ---- [EXT] no SQL oracle (rows-only check): LSH-family dedup ----

    // Oracle-checked MinHash: md5-derived hash family computable
    // bit-identically in DuckDB (see oracle below, generated from the
    // same seeds).
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.portableMinHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)),

    // xxhash64-family variant — oracled via the XxSql XXH64 emulation.
    "q_dedup_minhash_fast" -> ((s, dir) =>
      Dedup.minHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)),

    // Incremental exact dedup: the new batch (doc_id % 3 == 0) against
    // a historical digest table (everything else) — the daily-crawl-vs-
    // corpus pattern; history text is never read.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalExactByDigest(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Dedup.textDigests(d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"))
    }),

    // Pair -> cluster collapse: connected components of the portable
    // MinHash near-dup graph, min-id representatives. The oracle
    // re-derives the same pairs in SQL and closes them with a
    // recursive CTE.
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.clusterPairs(
        Dedup.portableMinHashNearDuplicates(
          Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")),

    // [EXT] TimeSeries: rolling anomaly flags — each hour z-scored
    // against its key's trailing-24h baseline (self excluded) on the
    // dense spine; the diurnal-safe volume monitor.
    "q_rolling_anomaly" -> ((s, dir) =>
      graft.ext.TimeSeries.rollingAnomalies(
        Tables.events(s, dir), "event_type", "ts",
        frameHours = 24, threshold = 3.0)),

    // [EXT] Dedup design aid: LSH banding S-curves — candidate
    // probability vs similarity for each (bands, rows) configuration.
    "q_lsh_curve" -> ((s, dir) =>
      Dedup.lshCandidateCurve(s, Seq((4, 4), (8, 2), (2, 8)))),

    // [EXT] Dedup diagnostics: per-doc duplicated-shingle share — the
    // boilerplate filter signal pair mining can't see (a doc can be
    // 60% recycled without one near-dup partner).
    "q_dup_share" -> ((s, dir) =>
      Dedup.crossDocShingleShare(
        Tables.documents(s, dir), "doc_id", "text", shingleN = 3)),

    // [EXT] Dedup diagnostics: the cluster-SIZE distribution — how
    // duplicated is the corpus? A few huge clusters ⇒ boilerplate
    // storm; many pairs ⇒ organic near-dups. Two tiny aggregates over
    // the cluster table.
    "q_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterPairs(
        Dedup.portableMinHashNearDuplicates(
          Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))),

    // End-to-end dedup deliverable: the SURVIVING corpus after cluster
    // collapse (one representative per near-dup cluster + singletons).
    "q_dedup_collapse" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.collapseNearDuplicates(
        docs, "doc_id",
        Dedup.portableMinHashNearDuplicates(
          docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    }),

    // Oracle-checked SimHash (md5-derived 60-bit signatures).
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.portableSimHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text")),

    // xxhash64 64-bit variant — oracled via the XxSql XXH64 emulation.
    "q_dedup_simhash_fast" -> ((s, dir) =>
      Dedup.simHashNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text", maxDist = 6)),

    // Oracle-checked ANN paths: bucket/centroid decisions round to 6 dp
    // in both engines, and the oracle SQL inlines the same hyperplane
    // constants / derives the same centroids (see simLshOracleSql /
    // simIvfOracleSql below).
    "q_sim_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshBucketedTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 10, dim = 64,
        bits = lshBitsFor(dir, emb))
    }),

    // [EXT] ANN self-eval: recall@10 of the sign-LSH retriever vs the
    // exact top-k, per query — oracle composes both retriever SQLs.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        Similarity.lshBucketedTopK(
          emb, queries, "vec_id", "embedding", k = 10, dim = 64,
          bits = lshBitsFor(dir, emb)),
        k = 10)
    }),

    "q_sim_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
    }),

    // Per-label embedding centroids, long format (label × 64 dims).
    "q_embed_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(
        Tables.embeddings(s, dir), "label", "embedding")),

    // REAL media header round-trip: synthesize valid BMP/WAV binaries
    // (dims derived from n_chars), parse them back with the byte-level
    // MediaCodec; the oracle recomputes the same fields arithmetically
    // — the parse must invert the synthesis bit-exactly.
    // [EXT] REAL audio decode over THREE encodings, doc_id % 3
    // cycling: (0) 16-bit PCM WAVs from a deterministic waveform;
    // (1) μ-law and (2) A-law G.711 WAVs whose 8-bit code bytes
    // follow a formula and expand through the JDK's G.711 converter
    // (checked against the ITU-T closed form over all 256 codes in
    // G711Spec). All reduced to exact integer
    // energy moments; the oracle recomputes from the generator
    // FORMULA (and the closed-form G.711 expansion) — the hash
    // matches only if the byte-level decode is exact.
    "q_audio_energy" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (200 + id % 100).toInt
          (id % 3) match {
            case 0 =>
              val samples = Array.tabulate(n)(i =>
                (((id * 31 + i.toLong * 17) % 65536) - 32768).toInt)
              (id, "audio",
                graft.ext.MediaCodec.synthesizeWavPcm16(16000, samples))
            case m =>
              val codes = Array.tabulate(n)(i =>
                ((id * 31 + i.toLong * 17) % 256).toInt)
              (id, "audio", graft.ext.MediaCodec.synthesizeWavG711(
                8000, codes, ulaw = m == 1))
          }
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.audioEnergy(s, media)
    }),

    // [EXT] REAL image decode + resize over FIVE real formats,
    // doc_id % 5 cycling: (0) 24-bit BMPs with formula pixels
    // (bottom-up rows, padding, BGR); (1) single-component JPEGs
    // whose 8×8 blocks are formula-CONSTANT, written at quality 1.0
    // (all-ones quantization tables), which makes the lossy format
    // decode bit-exactly (MediaCodec.encodeImage); (2) PNGs losslessly
    // carrying the BMP pixel formula, Adam7-interlaced on alternating
    // ids; (3) GIFs with a 64-entry formula palette, 4-pass interlaced
    // on alternating ids (palette-lossless); (4) lossless WebPs — a
    // REAL VP8L prefix-coded bitstream (libwebp-conformance-proven
    // codec), losslessly carrying the BMP pixel formula. BMP, JPEG, PNG
    // and GIF are written and read through the JDK's ImageIO; WebP by
    // the repo's own codec. All DuckDB-oracle-able. Each is
    // decoded, nearest-neighbor resized to 5×3, and reduced to exact
    // channel stats the oracle recomputes from the generator formulas.
    "q_image_resize" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt
          val h = (5 + id % 7).toInt
          (id % 5) match {
            case 0 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("bmp",
                graft.ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt)))
            case 1 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("jpeg",
                graft.ext.MediaCodec.grayImage(w, h, (x, y) =>
                  ((id * 11 + (x / 8) * 7 + (y / 8) * 13) % 256).toInt)))
            case 2 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("png",
                graft.ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt),
                interlaced = id % 2 == 0))
            case 3 =>
              // GIF: 64-entry palette whose entry i decodes to the
              // BGR-indexed formula (id·7 + i·13 + c·5) % 256; packed
              // entries are 0xRRGGBB so R carries c = 2.
              val pal = Array.tabulate(64) { i =>
                def pf(c: Int) = ((id * 7 + i * 13 + c * 5) % 256).toInt
                (pf(2) << 16) | (pf(1) << 8) | pf(0)
              }
              (id, "image", graft.ext.MediaCodec.encodeImage("gif",
                graft.ext.MediaCodec.indexedImage(w, h, pal,
                  (x, y) => (x * 3 + y * 5) % 64),
                interlaced = id % 2 == 1))
            case _ =>
              // WebP (VP8L, lossless): encode samples are RGB-ordered,
              // so sample c carries BGR channel 2 − c.
              (id, "image", graft.ext.VP8LCodec.encode(w, h,
                (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + (2 - c) * 5) % 256).toInt))
          }
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.imageResizeStats(s, media, outW = 5, outH = 3)
        .toDF()
    }),

    // [EXT] REAL video decode: GVID containers of BMP24 frames,
    // every 2nd frame sampled and reduced to exact channel sums; the
    // oracle recomputes from the per-frame pixel formula.
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val nf = (3 + id % 4).toInt
          val frames = (0 until nf).map(f =>
            graft.ext.MediaCodec.encodeImage("bmp",
              graft.ext.MediaCodec.bgrImage(4, 3, (x, y, c) =>
                ((id * 7 + f * 11 + x * 13 + y * 31 + c * 5) % 256).toInt)))
          (id, "video", graft.ext.MediaCodec.synthesizeVideo(frames))
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.videoFrameStats(s, media, stride = 2).toDF()
    }),

    "q_media_headers" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          (id % 6) match {
            case 0 => (id, "image",
              ext.MediaCodec.synthesizeBmp(
                (n % 640 + 1).toInt, ((n * 31) % 480 + 1).toInt))
            case 1 => (id, "audio",
              ext.MediaCodec.synthesizeWav(
                (n % 2 + 1).toInt, (8000 + (n % 8) * 1000).toInt))
            case 2 => (id, "image",
              ext.MediaCodec.synthesizePng(
                (n % 512 + 1).toInt, ((n * 17) % 384 + 1).toInt,
                bitDepth = 8,
                colorType = Array(0, 2, 6)((n % 3).toInt)))
            case 3 => (id, "image",
              ext.MediaCodec.synthesizeJpeg(
                (n % 320 + 1).toInt, ((n * 13) % 240 + 1).toInt,
                components = if (n % 2 == 0) 3 else 1))
            case 4 => (id, "image",
              ext.MediaCodec.synthesizeGif(
                (n % 256 + 1).toInt, ((n * 7) % 200 + 1).toInt,
                gctBits = (n % 8 + 1).toInt))
            case _ => (id, "image",
              ext.MediaCodec.synthesizeWebp(
                (n % 1024 + 1).toInt, ((n * 11) % 768 + 1).toInt,
                lossless = n % 2 == 1))
          }
        }).toDF("doc_id", "media_type", "payload")
      Multimodal.parseMediaHeaders(s, media).toDF()
    }),

    // Deterministic stratified sampling: portable md5 hash gate, per-
    // language keep rates. Pure projection+filter — zero shuffles.
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHashSample(
        Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 50, "es" -> 20), defaultPct = 10)),

    // Deterministic 80/10/10 train/val/test assignment (hash ranges).
    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id")),

    // Temperature-flattened (T=2) source mixing: √n-proportional
    // per-source targets, portable md5 micro-rate gate, zero corpus
    // shuffles.
    "q_mix_temperature" -> ((s, dir) =>
      Sampling.temperatureMixSample(
        Tables.documents(s, dir), "source", "doc_id", targetTotal = 200L)),

    // Token-budget selection: highest-quality docs first until the
    // 10k-token budget is spent — distributed prefix sum over the
    // (quality desc, doc_id) order, keep iff the doc fits entirely.
    "q_token_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"))
      Sampling.tokenBudgetSelect(
        d, Seq(col("quality").desc, col("doc_id")), "n_tokens", 10000L)
    }),

    // Curriculum order: per-source quality rank, sources interleaved
    // round-robin — global positions via the distributed ordinal.
    "q_curriculum" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextStats.qualityScore(col("text")).as("quality"))
      Sampling.curriculumOrder(d, "source", "doc_id", "quality")
    }),

    // Int8 scalar quantization of the embedding corpus (per-dim
    // min/max codes, exact integer digests per vector).
    "q_embed_quantize" -> ((s, dir) =>
      graft.ext.Embeddings.quantizeInt8(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)),

    // Per-dim embedding health: exact quantized variance + bounds
    // from DECIMAL(38,0) integer moments (dead-dim diagnostic).
    "q_embed_health" -> ((s, dir) =>
      graft.ext.Embeddings.dimHealth(
        Tables.embeddings(s, dir), "embedding", dim = 64)),

    // Mixture plan: √tokens-weighted largest-remainder apportionment
    // of a 20k-token budget across sources — allocations sum EXACTLY
    // to the target, all integer arithmetic.
    "q_mix_plan" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
        .withColumn("weight_q",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e6))
            .cast("long"))
      Sampling.largestRemainderAllocate(tok, "source", "weight_q", 20000L)
    }),

    // [EXT] Capacity-capped water-filling: √n-flattened 25k-token mix
    // where no source can give more than it has — capped prefix +
    // exact residual apportionment, one pass.
    "q_mix_capped" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
        .withColumn("weight_q",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e6))
            .cast("long"))
      Sampling.cappedAllocate(tok, "source", "weight_q", "n_tokens", 25000L)
    }),

    // [EXT] General-temperature (T=3) mixture apportionment — weights
    // n^(1/3) via the deterministic lnq/expq pair, exact Hamilton
    // allocation of a 20k-token target.
    "q_mix_temp_general" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
      Sampling.temperatureAllocate(tok, "source", "n_tokens",
        target = 20000L, temperature = 3.0)
    }),

    // DSIR importance weights: hashed-unigram log-likelihood ratio of
    // a curated target slice (src0-2) vs the raw pool, one
    // deterministic-ln per bucket floor-quantized to exact integers.
    "q_dsir" -> ((s, dir) =>
      Sampling.dsirWeights(
        Tables.documents(s, dir), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"), numBuckets = 64)),

    // Leakage-safe split: near-dup clusters (MinHash LSH pairs → CC)
    // are hashed as a unit via their component rep, so no near-dup
    // pair straddles train/eval.
    "q_split_leakage_safe" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.leakageSafeSplit(
        d, "doc_id",
        Dedup.portableMinHashNearDuplicates(
          d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    }),

    // [EXT] The whole curation intake as ONE plan: Gopher gate →
    // minhash-CC dedup (min-id rep) → split hash; one audited verdict
    // per document.
    "q_curation_pipeline" -> ((s, dir) =>
      graft.ext.Curation.disposition(
        Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] Quality-aware dedup collapse: keep each near-dup
    // cluster's BEST doc by the exact quality micro-score (CCNet
    // convention), not its earliest.
    "q_dedup_collapse_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("quality",
          coalesce(TextStats.qualityScoreMicro(col("text")), lit(-1L)))
      Dedup.collapseNearDuplicatesBest(d, "doc_id", "quality",
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b")
    }),

    // [EXT] Mix shift: event-type composition of the second half of
    // the time range vs the first — exact micro shares. The midpoint
    // is EXACT integer floor-division on both sides ((min+max) div 2
    // here, // in the oracle): the former double-average-then-cast
    // truncated while DuckDB's CAST rounds-to-nearest, so an odd
    // min+max put a boundary event in different halves per engine.
    "q_mix_shift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val us = unix_micros(col("ts"))
      val mid = ev.agg(min(us).as("__mn"), max(us).as("__mx"))
        .select(expr("(__mn + __mx) div 2").as("__mid"))
      graft.ext.Analytics.mixShift(
        ev.crossJoin(broadcast(mid)).filter(us < col("__mid")),
        ev.crossJoin(broadcast(mid)).filter(us >= col("__mid")),
        "event_type")
    }),

    // [EXT] Cross-source duplication matrix over the portable MinHash
    // pairs — which sources copy from which.
    "q_source_dup_matrix" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.sourceDupMatrix(
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "id_a", "id_b", d, "doc_id", "source")
    }),

    // [EXT] Dedup self-eval: precision/recall of the shingle-MinHash
    // candidate pairs against exact token-Jaccard ≥ 0.5 truth, both
    // restricted to the lower-id < 200 pair universe. An end-metric
    // eval of the LSH path, not a self-consistency check.
    "q_dedup_eval" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.pairEval(
        Dedup.jaccardPairs(d, d.filter(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.5),
        "doc_a", "doc_b",
        Dedup.portableMinHashNearDuplicates(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .filter(col("id_a") < 200),
        "id_a", "id_b")
    }),

    // [EXT] Gate ablation: per Gopher rule, any-failure vs
    // sole-failure (marginal) document counts — one aggregate pass.
    "q_gate_ablation" -> ((s, dir) =>
      graft.ext.Curation.gateAblation(
        TextStats.gopherRules(Tables.documents(s, dir), "doc_id", "text"),
        GopherGates)),

    // [EXT] Matryoshka truncation eval: recall@10 of retrieval over
    // the FIRST 16 DIMS against the full-64-dim ground truth — "can
    // we serve the cheap prefix embedding" (Kusupati et al. '22).
    "q_mrl_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", 10),
        Similarity.bruteForceTopK(
          trunc, trunc.filter(col("vec_id") < 50), "vec_id", "embedding", 10),
        k = 10)
    }),

    // [EXT] l-diversity audit: (segment, balance-band) classes whose
    // sensitive attribute (nation) shows fewer than l=10 distinct
    // values — the homogeneity-attack complement of q_kanon.
    "q_ldiversity" -> ((s, dir) =>
      graft.ops.Quality.lDiversityAudit(
        Tables.customer(s, dir)
          .withColumn("bal_band", floor(col("c_acctbal") / 50.0)
            .cast("long")),
        Seq("c_mktsegment", "bal_band"), "c_nationkey", 10L)),

    // [EXT] Kaplan–Meier user-lifetime curve: duration = days between
    // first and last activity; censored when the user is still active
    // within 3 days of the corpus horizon.
    "q_kaplan_meier" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hz = ev.agg(max(col("ts")).as("__hz"))
      val subjects = ev.groupBy(col("user_id"))
        .agg(
          datediff(max(col("ts")), min(col("ts"))).as("duration"),
          max(col("ts")).as("__last"))
        .crossJoin(broadcast(hz))
        .withColumn("observed", datediff(col("__hz"), col("__last")) > 3)
      Behavior.kaplanMeier(subjects, "duration", "observed")
    }),

    // [EXT] PSI drift TREND: per-day PSI of the value distribution
    // against the first day — the monitoring table behind the
    // one-number q_psi_drift alarm.
    "q_psi_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(valueValid)
        .withColumn("day", to_date(col("ts")))
      val d0 = ev.agg(min(col("day")).as("__d0"))
      graft.ext.Drift.psiTrend(
        ev.join(broadcast(d0), col("day") === col("__d0"))
          .select(col("value")),
        ev.join(broadcast(d0), col("day") > col("__d0"))
          .select(col("day"), col("value")),
        "value", "day", width = 16L)
    }),

    // [EXT] Welch's unequal-variance t-test on the value metric
    // between the two lowest variants (click vs error).
    "q_welch_ttest" -> ((s, dir) =>
      Behavior.welchTTest(
        Tables.events(s, dir)
          .filter(col("event_type").isin("click", "error") && valueValid),
        "event_type", "value")),

    // [EXT] The join planner's decision table for events ⋈ orders:
    // key-statistics aggregates + an exact-integer CASE (thresholds
    // chosen so the verdict is the non-trivial branch here).
    "q_join_plan" -> ((s, dir) =>
      graft.ops.JoinPlanner.planReport(
        Tables.events(s, dir), Tables.orders(s, dir), Seq("user_id"),
        broadcastMaxRows = 1000L, skewRatio = 16L)),

    // [EXT] Exact join-output cardinality WITHOUT running the join
    // (events × orders on the customer key — the M×N blowup case a
    // planner wants quantified before committing to a plan).
    "q_join_cardinality" -> ((s, dir) =>
      graft.ext.Analytics.joinCardinality(
        Tables.events(s, dir), "user_id",
        Tables.orders(s, dir), "o_custkey")),

    // [EXT] Exactly-k deterministic uniform sample: the 100 smallest
    // md5 hashes over doc ids (exact size, auditable membership).
    "q_sample_exact_k" -> ((s, dir) =>
      Sampling.exactKSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", k = 100)),

    // [EXT] Hubness diagnostic: k-occurrence histogram of the LSH
    // retriever over the whole corpus (anti-hubs included). The only
    // retrieval with BOTH sides unbounded, so bits follow the
    // corpus-size ladder — constant bits made this the inventory's one
    // quadratic query (>1000x wall at 30x data before the ladder).
    "q_ann_hubness" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = lshBitsFor(dir, emb)
      Similarity.hubnessReport(
        Similarity.lshBucketedTopK(
          emb, emb, "vec_id", "embedding", k = 10, dim = 64, bits = bits),
        emb, "vec_id")
    }),

    // Per-source quota: top 50 docs per source by (n_chars desc, id) via
    // the bounded-heap TopKAgg — map-side pruned, hot-source safe.
    "q_quota_cap" -> ((s, dir) =>
      Sampling.quotaCap(
        Tables.documents(s, dir), Seq("source"), "n_chars", "doc_id", 50)),

    // Benchmark decontamination: word-5-gram overlap of every corpus doc
    // against the held-out benchmark slice (doc_id % 97 == 0).
    "q_contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Contamination.ngramOverlap(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    // [EXT] Train-order novelty: fraction of each doc's distinct
    // 5-gram shingles first seen at that doc (min-doc_id arrival
    // order) — the asymmetric complement of q_dup_share.
    "q_novelty" -> ((s, dir) =>
      Dedup.shingleNovelty(Tables.documents(s, dir), "doc_id", "text", n = 5)),

    // [EXT] Gopher rule bundle: the canonical pretraining hygiene
    // filter as exact integer verdicts (no float thresholds).
    "q_gopher_rules" -> ((s, dir) =>
      TextStats.gopherRules(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] Hard-negative mining: per query, top-3 most-similar
    // vectors with a DIFFERENT label (bounded query side).
    "q_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label",
        k = 3, queryMax = 50)),

    // Gopher-style repetition quality signals per document.
    "q_repetition" -> ((s, dir) =>
      TextStats.repetitionMetrics(Tables.documents(s, dir), "doc_id", "text")),

    // RAG-style token-window chunking: 16-token windows, 4-token overlap.
    "q_chunk_tokens" -> ((s, dir) =>
      TextStats.tokenWindowChunks(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
        chunkSize = 16, overlap = 4).drop("text")),

    // [EXT] BPE merge learning (tokenizer induction): 6 merges over
    // the word-frequency table, greedy left-to-right application done
    // relationally (oracle unrolls the same stages).
    "q_bpe_merges" -> ((s, dir) =>
      graft.ext.Bpe.learnMerges(
        Tables.documents(s, dir), "text", numMerges = 6)),

    // [EXT] Price the corpus in LEARNED-tokenizer tokens: join each
    // doc's words to the post-merge vocabulary; compression = chars
    // per BPE token (exact integer ratio).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ext.Bpe.vocabAfterMerges(docs, "text", numMerges = 6)
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_chars"))
        .withColumn("compression",
          col("n_chars").cast("double") / col("n_bpe_tokens"))
    }),

    // [EXT] Source-pair unigram-KL matrix (style/distribution
    // distance; content overlap is q_source_overlap's job).
    "q_source_kl" -> ((s, dir) =>
      Vocab.sourceKlMatrix(Tables.documents(s, dir), "source", "text")),

    // [EXT] OOV rate per doc under the top-20 corpus vocabulary (the
    // cheap junk/foreign-text spike detector).
    "q_oov_rate" -> ((s, dir) =>
      Vocab.oovRate(Tables.documents(s, dir), "doc_id", "text",
        vocabSize = 20)),

    // [EXT] BM25 + RM3 pseudo-relevance feedback: expand the query
    // with the top-3 terms of the top-5 first-pass docs, re-retrieve.
    "q_bm25_rm3" -> ((s, dir) =>
      Vocab.bm25Rm3(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "merge"), k = 50)),

    // Corpus vocabulary: top 100 tokens by occurrences with doc freq.
    "q_vocab_top" -> ((s, dir) =>
      Vocab.topVocabulary(Tables.documents(s, dir), "doc_id", "text", 100)),

    // CCNet-style unigram-LM surprisal (perplexity-proxy quality score).
    "q_unigram_surprisal" -> ((s, dir) =>
      Vocab.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] Per-doc unigram perplexity = expq(surprisal) — first
    // consumer of the deterministic-exp kernel (bit-exact, no round).
    "q_doc_perplexity" -> ((s, dir) =>
      Vocab.docPerplexity(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] Held-out perplexity: LM fit on the 80% hash-split train
    // slice, only test docs scored, reserved mass for unseen terms.
    "q_heldout_ppl" -> ((s, dir) =>
      Vocab.heldOutPerplexity(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] Bigram-LM conditional surprisal (one model order up: catches
    // shuffled-word junk that unigram statistics cannot see).
    "q_bigram_lm" -> ((s, dir) =>
      Vocab.bigramSurprisal(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] CCNet-style head/middle/tail perplexity tertiles per source
    // (integer rank cuts on the global surprisal order — no float
    // percentile decisions).
    "q_perplexity_bucket" -> ((s, dir) =>
      Vocab.perplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text", "source")),

    // [EXT] Interpolated Kneser–Ney bigram LM: the trained model table
    // (bigram type → smoothed conditional probability). Pure IEEE
    // arithmetic on exact integer counts — no ln, no rounding.
    "q_kn_bigram" -> ((s, dir) =>
      Vocab.kneserNeyBigram(Tables.documents(s, dir), "text")),

    // [EXT] Heaps'-law vocabulary-growth fit over the corpus in doc-id
    // order — the companion diagnostic to q_zipf_fit, exact-integer
    // OLS on floor-quantized deterministic lns.
    "q_heaps_fit" -> ((s, dir) =>
      Vocab.heapsFit(Tables.documents(s, dir), "doc_id", "text")),

    // [EXT] The final training manifest: √n-flattened source mix
    // apportioned to a 60k-token target, epoch repetition with an
    // md5 fractional gate, deterministic global shuffle order.
    "q_train_manifest" -> ((s, dir) => {
      val d = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.trainManifest(d, "source", "doc_id", "n_tokens", 60000L)
    }),

    // [EXT] Sequence-length bucketing padding report: per power-of-two
    // bucket (cap 128), the padding a fixed-length loader would burn.
    "q_length_buckets" -> ((s, dir) =>
      Sampling.lengthBucketReport(
        Tables.documents(s, dir).filter(col("text").isNotNull)
          .select(TextStats.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "n_tokens", maxLen = 128)),

    // [EXT] k-anonymity audit over (nation, market segment) quasi-
    // identifiers: every equivalence class smaller than k=15.
    "q_kanon" -> ((s, dir) =>
      graft.ops.Quality.kAnonymityAudit(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), 15L)),

    // [EXT] Fit the quality scorer in-engine: ridge (λ=100) of the
    // exact integer quality micro-score on (tokens, stopwords) via
    // integer normal equations + Cramer trunc-division.
    "q_ridge_quality" -> ((s, dir) =>
      graft.ext.Regression.ridgeFit2(
        ridgeFeatures(s, dir), "x1", "x2", "y", lambda = 100L)),

    // [EXT] Fit-quality eval of the same model: exact-integer MAE,
    // worst residual, and R² at the 10⁶ grid.
    "q_ridge_eval" -> ((s, dir) =>
      graft.ext.Regression.ridgeEval2(
        ridgeFeatures(s, dir), "x1", "x2", "y", lambda = 100L)),

    // [EXT] PMI collocations (word2vec-style phrase mining): pairs that
    // co-occur far above their marginal rates, ranked on the rounded
    // score so cross-engine ln() ulps can't flip the order.
    "q_pmi_colloc" -> ((s, dir) =>
      Vocab.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 3L, k = 50)),

    // Per-document top TF-IDF term (rank on the 6dp-rounded score in
    // BOTH engines so cross-engine ln() ulps can't flip the argmax).
    "q_tfidf_top" -> ((s, dir) =>
      Vocab.topTfIdfTerm(Tables.documents(s, dir), "doc_id", "text")),

    // Sequence packing: concat-then-chunk into 2048-token bins via the
    // distributed prefix sum (no single-partition window).
    "q_pack_bins" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextStats.tokenCount(lower(col("text"))).cast("long").as("n_tokens"))
      Prefix.packBins(d, Seq(col("doc_id")), "n_tokens", 2048L)
    }),

    // Packing → actual training sequences: each bin's docs concatenated
    // in doc order with an EOS separator. Per-bin state is budget-
    // bounded (~2048 tokens of text), so the collect_list aggregate is
    // a bounded merge, not a hot-group risk.
    "q_pack_concat" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          TextStats.tokenCount(lower(col("text"))).cast("long").as("n_tokens"))
      Prefix.packBins(d, Seq(col("doc_id")), "n_tokens", 2048L)
        .groupBy(col("bin_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")),
            "<|eos|>").as("sequence"))
    }),

    // Skew-salted fact join: identical result multiset to the plain
    // equi-join (the oracle IS the plain join), but each hot orderkey
    // spreads over 8 reduce tasks.
    "q_join_salted" -> ((s, dir) =>
      graft.ops.SkewJoin.saltedJoin(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber")),
        Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        Seq("l_orderkey"), salts = 8)),

    // As-of join: each event gets the latest even-hour rate (hourly avg
    // per event_type) at or before its timestamp; DuckDB ASOF LEFT JOIN
    // is the oracle. Odd-hour events exercise the look-back; events
    // before the first even-hour rate stay null (LEFT semantics).
    "q_asof_rate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // Decimal-exact sum then one double division: a raw avg() sums in
      // partition order and can cross the 6dp rounding boundary vs
      // DuckDB's sequential sum (observed at sf0.1) — the same
      // associativity fix as q_revenue_monthly.
      val rates = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(
          sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(col("value")), 6).as("rate"))
        .filter(hour(col("hr")) % 2 === 0)
      AsOf.asOfJoin(
        ev.select("event_id", "event_type", "ts", "value"), rates,
        Seq("event_type"), "ts", "hr")
    }),

    // Same as-of semantics via the epoch-bucketed scale path (1 h
    // epochs): window partitions are (key, epoch), not a key's whole
    // history. Shares q_asof_rate's ASOF oracle — the driver gate
    // proves the two implementations equivalent.
    "q_asof_bucketed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val rates = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(
          sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(col("value")), 6).as("rate"))
        .filter(hour(col("hr")) % 2 === 0)
      AsOf.asOfJoinEpochBucketed(
        ev.select("event_id", "event_type", "ts", "value"), rates,
        Seq("event_type"), "ts", "hr", epochSeconds = 3600L)
    }),

    // [EXT] OLAP: ROLLUP grouping sets — one Expand + one hash
    // aggregate pass regardless of level count; gid is the standard
    // GROUPING() bit vector.
    "q_rollup_sales" -> ((s, dir) =>
      Olap.rollupSum(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice")),

    // [EXT] OLAP: pivot with pinned values (single hash aggregate, no
    // collect-distinct pre-pass).
    "q_pivot_status" -> ((s, dir) =>
      Olap.pivotSum(
        Tables.orders(s, dir),
        date_format(col("o_orderdate"), "yyyy-MM"), "month",
        "o_orderstatus", Seq("O", "F", "P"), "o_totalprice")),

    // [EXT] OLAP: exact one-pass column profile (null/distinct/min/max
    // per column) — the data-quality dashboard query.
    "q_profile_columns" -> ((s, dir) =>
      Olap.profile(
        Tables.events(s, dir),
        Seq(
          "event_id" -> Olap.AsLong,
          "ts" -> Olap.AsTimestamp,
          "user_id" -> Olap.AsLong,
          "event_type" -> Olap.AsString,
          "value" -> Olap.AsDouble,
          "props" -> Olap.AsString))),

    // [EXT] OLAP: fixed-width histogram; power-of-two width makes bin
    // assignment an exact binary scaling (cross-engine bit-identical).
    "q_histogram" -> ((s, dir) =>
      Olap.histogram(Tables.orders(s, dir), "o_totalprice", width = 16384L)),

    // [EXT] Behavior: weekly retention cohorts — one shuffle on the
    // user key (window-min cohort assignment, no join back).
    "q_retention_cohort" -> ((s, dir) =>
      Behavior.retentionWeekly(Tables.events(s, dir), "user_id", "ts")),

    // [EXT] Behavior: strictly-ordered funnel (view → click →
    // purchase), sequential-min semantics.
    "q_funnel" -> ((s, dir) =>
      Behavior.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),

    // [EXT] Interval join via time binning: lineitems shipped inside
    // each order's first 24 h, as a hash equi-join on day bins — the
    // scale path where a raw range predicate would plan a broadcast
    // nested loop.
    "q_range_join" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .withColumn("o_end", col("o_orderdate") + expr("INTERVAL 1 DAY"))
      RangeJoin.intervalPointCount(
        Tables.lineitem(s, dir), "l_shipdate",
        orders, "o_orderkey", "o_orderdate", "o_end",
        binSeconds = 86400L)
    }),

    // [EXT] Text: PII redaction — emails/IPs/SSN-shapes/phone-shapes
    // to typed tokens. PII is synthesized deterministically from
    // doc_id (both engines build the identical input string).
    "q_pii_redact" -> ((s, dir) => {
      val synth = concat(
        col("text"), lit(" contact: user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip 10.2."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 ssn 123-45-6789 call 415-555-"),
        (col("doc_id") % 9000 + 1000).cast("string"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ext.Redact.redactPii(synth).as("clean"))
    }),

    // [EXT] Text: Unicode NFC canonicalization + accent stripping
    // (custom codegen'd expressions) — hash-before-normalize is the
    // classic silent dedup killer.
    "q_text_nfc" -> ((s, dir) => {
      // decomposed on purpose ("e" + combining acute U+0301):
      // NFC must compose it into the single code point \u00e9.
      val synth = concat(col("text"), lit(" cafe\u0301"))
      val nfc = graft.functions.NormalizeExprs.nfc(synth)
      Tables.documents(s, dir).select(
        col("doc_id"),
        nfc.as("nfc"),
        graft.functions.NormalizeExprs.stripAccents(nfc).as("ascii"),
        length(synth).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"))
    }),

    // [EXT] Text: guarded mojibake repair — Latin-1-misread UTF-8 is
    // reinterpreted only when provably lossless; real accents and
    // ASCII pass through untouched. Injections are synthesized from
    // doc_id so both engines agree on the input.
    "q_fix_mojibake" -> ((s, dir) => {
      val k = col("doc_id") % 10
      // %10==0: mojibake 'cafÃ©' (U+00C3 U+00A9 — must be repaired);
      // %10==5: genuine 'café' (U+00E9 — must NOT be touched)
      val synth = when(k === 0, concat(col("text"), lit(" caf\u00c3\u00a9")))
        .when(k === 5, concat(col("text"), lit(" caf\u00e9")))
        .otherwise(col("text"))
      val fixed = graft.functions.NormalizeExprs.fixMojibake(synth)
      Tables.documents(s, dir).select(
        col("doc_id"), fixed.as("fixed"), (fixed =!= synth).as("was_fixed"))
    }),

    // [EXT] Text: character-level Shannon entropy quality signal
    // (exact log2(n) - sum(c*log2(c))/n form, fixed-order summation).
    "q_char_entropy" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(graft.functions.NormalizeExprs.charEntropy(col("text")), 6)
          .as("entropy"))),

    // [EXT] Embeddings: PCA — one mergeable EXACT-integer moments pass
    // (constant state), driver-side 64x64 quantized power iteration
    // with deflation, then a shuffle-free all-integer projection.
    // Oracled since r9 (no_oracle dropped): every model decision is
    // exact-integer or exactly-representable-double arithmetic, so the
    // oracle reproduces the fit bit-for-bit with a recursive CTE
    // (pcaOracleSql) — the kmeans quantization discipline applied to
    // eigendecomposition. The adaptive Jacobi fitPca remains for
    // library use (spec'd: planted-axis recovery, orthonormality).
    "q_pca_project" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.Embeddings.fitPcaDeterministic(
        emb, "embedding", dim = 64, k = 3)
      graft.ext.Embeddings.projectDeterministic(emb, "embedding", model)
        .select("vec_id", "pc1", "pc2", "pc3")
    }),

    // [EXT] Embeddings: Lloyd's k-means (farthest-point init, one
    // mergeable aggregate per pass). Oracled since r7: quantized
    // distances + exact integer centroid sums make every iteration
    // bit-reproducible, so the oracle unrolls init + 3 Lloyd passes
    // in SQL (kmeansOracleSql), like the PageRank oracle.
    "q_kmeans_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, assigned) = graft.ext.Embeddings.kmeans(
        emb, "vec_id", "embedding", dim = 64, k = 8, iters = 3)
      assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n_vectors"))
    }),

    // [EXT] SemDeDup: embedding-space semantic dedup — kmeans
    // clusters (bit-reproducible), then within-cluster cosine pruning
    // against lower-id clustermates. k is CORPUS-SIZED
    // (Dedup.semDeDupK of the memoized embeddings count — E[n_c]≈256,
    // so the within-cluster pair join stays linear at any scale; 8 at
    // every test SF). Oracle reuses the unrolled spread-seeded kmeans
    // chain, whose COUNT(*)-derived k picks the identical rung, and
    // mirrors the 6-dp cosine.
    "q_semdedup" -> ((s, dir) =>
      Dedup.semDeDup(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64,
        k = Dedup.semDeDupK(embCountFor(dir, Tables.embeddings(s, dir))),
        iters = 3, threshold = 0.4)),

    // [EXT] Analytics: clickstream transition matrix — one lead()
    // shuffle on the user key, then a partial-aggregatable pair count.
    "q_event_transitions" -> ((s, dir) =>
      graft.ext.Analytics.eventTransitions(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id")),

    // [EXT] Analytics: per-type z-score outliers; moments are
    // decimal-exact sums so z is bit-identical cross-engine, and the
    // moment table broadcast-joins back (no hot-group window).
    "q_zscore_outliers" -> ((s, dir) =>
      graft.ext.Analytics.zscoreOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", threshold = 2.5)),

    // [EXT] Analytics: robust (median/MAD) outliers — heavy-tail-safe
    // sibling of q_zscore_outliers; decide-on-rounded robust-z.
    "q_mad_outliers" -> ((s, dir) =>
      graft.ext.Analytics.madOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", threshold = 3.0)),

    // [EXT] Quality: Deequ-style dataset-promotion audit — row
    // predicates in ONE aggregate pass, key uniqueness, FK orphans.
    "q_constraint_audit" -> ((s, dir) => {
      import graft.ops.Quality
      val li = Tables.lineitem(s, dir)
      Quality.audit(Seq(
        Quality.rowChecks(li, Seq(
          "lineitem.quantity_positive" ->
            (col("l_quantity").isNull || col("l_quantity") <= 0),
          "lineitem.discount_unit_range" ->
            (col("l_discount").isNull || !col("l_discount").between(0.0, 1.0)),
          "lineitem.price_positive" ->
            (col("l_extendedprice").isNull || col("l_extendedprice") <= 0),
          "lineitem.shipdate_present" -> col("l_shipdate").isNull)),
        Quality.uniqueCheck(li, "lineitem.pk_unique",
          Seq("l_orderkey", "l_linenumber")),
        Quality.fkCheck(li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "lineitem.fk_orders"),
        Quality.fkCheck(li, "l_partkey",
          Tables.part(s, dir), "p_partkey", "lineitem.fk_part"),
        Quality.fkCheck(li, "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey", "lineitem.fk_supplier")))
    }),

    // [EXT] Analytics: join-key skew diagnostics — the pre-join
    // "should I salt?" report over lineitem's three join keys.
    "q_skew_profile" -> ((s, dir) =>
      graft.ext.Analytics.keySkewProfile(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),

    // [EXT] Drift: Jensen–Shannon divergence of the event-type mix,
    // first half of the month vs the rest (categorical drift, bounded
    // by ln 2, defined even with absent categories).
    "q_js_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val split = lit("2024-01-16").cast("timestamp")
      graft.ext.Drift.jsDivergence(
        ev.filter(col("ts") < split),
        ev.filter(col("ts") >= split),
        "event_type")
    }),

    // [EXT] OLAP: per-source language-diversity entropy (dataset-card
    // monoculture check).
    "q_cat_entropy" -> ((s, dir) =>
      graft.ext.Olap.categoricalEntropy(
        Tables.documents(s, dir), Seq("source"), "lang")),

    // [EXT] Analytics: quantile normalization — error-event values
    // mapped onto the click-value distribution by rank (feature
    // alignment; reference grid inlined like the IVF centroids).
    "q_quantile_norm" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Analytics.quantileNormalize(
        ev.filter(col("event_type") === "error")
          .select("event_id", "value"),
        "value",
        ev.filter(col("event_type") === "click"), "value",
        gridSteps = 20)
    }),

    // [EXT] Analytics: top-k categories + "(other)" rollup — the tail
    // stays visible instead of silently dropping (reporting honesty).
    "q_topk_other" -> ((s, dir) =>
      graft.ext.Analytics.topKWithOther(
        Tables.documents(s, dir), "source", k = 5)),

    // [EXT] Analytics: Gini concentration of per-customer revenue
    // (corpus/source-balance metric; distributed ordinal ranks).
    "q_gini" -> ((s, dir) => {
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double").as("rev"))
      graft.ext.Analytics.gini(perCust, "rev", "o_custkey")
    }),

    // [EXT] Drift: exact two-sample KS statistic — both empirical CDFs
    // in ONE distributed prefix pass (no single-partition window).
    "q_ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.ksStatistic(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "error"),
        "value")
    }),

    // [EXT] Drift: exact Mann–Whitney U with midrank ties — the
    // rank-based "did one sample shift?" complement of KS; doubled
    // midranks keep every moment an exact integer (prefix-sum plan).
    "q_mann_whitney" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.mannWhitney(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "value")
    }),

    // [EXT] OLAP: chi-square independence statistic (MI's test
    // sibling) over the full marginal grid incl. zero cells.
    "q_chi_square" -> ((s, dir) =>
      graft.ext.Olap.chiSquare(
        Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).as("dow")),
        "event_type", "dow")),

    // [EXT] OLAP: mutual information (leakage/redundancy detector)
    // between event type and day-of-week.
    "q_mutual_info" -> ((s, dir) =>
      graft.ext.Olap.mutualInformation(
        Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).as("dow")),
        "event_type", "dow")),

    // [EXT] Drift: exact ROC AUC of value as a purchase-vs-rest score
    // — the Mann–Whitney U normalized by the pair count (rank
    // identity), same prefix-sum plan.
    "q_roc_auc" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.rocAuc(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") =!= "purchase"),
        "value")
    }),

    // [EXT] Behavior: decile lift table of value as a purchase scorer
    // — NTILE tiling via the distributed ordinal, prefix-sum
    // cumulative gains, exact-integer rates.
    "q_lift_table" -> ((s, dir) =>
      Behavior.liftTable(
        Tables.events(s, dir), "value", "event_id",
        col("event_type") === "purchase", buckets = 10)),

    // [EXT] OLAP: per-type Spearman rank correlation between value and
    // hour-of-day — exact doubled midranks (the Mann–Whitney device),
    // decimal moments, group-partitioned rank windows only.
    "q_spearman" -> ((s, dir) =>
      graft.ext.Olap.spearman(
        Tables.events(s, dir).select(
          col("event_type"), col("value"), hour(col("ts")).as("hod")),
        Seq("event_type"), "value", "hod")),

    // [EXT] Behavior: RFM customer-value segmentation — three quintile
    // passes on the distributed global ntile, entity-id tie-breaks.
    "q_rfm" -> ((s, dir) =>
      Behavior.rfm(Tables.orders(s, dir), "o_custkey", "o_orderdate",
        "o_totalprice", anchor = "2001-09-01")),

    // [EXT] Behavior: top first-3-step user journeys (WindowGroupLimit
    // prefix prune, rank-pivot path assembly, bounded path keys).
    "q_event_paths" -> ((s, dir) =>
      Behavior.topPaths(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id",
        depth = 3, k = 25)),

    // [EXT] Behavior: two-proportion conversion z-test over the
    // deterministic 50/50 hash split (experimentation primitive).
    "q_ab_ztest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("variant",
        when(graft.functions.HashExprs
          .md5Prefix60(col("user_id").cast("string")) % 2 === 0, "A")
          .otherwise("B"))
      Behavior.conversionZTest(ev, "user_id", "variant",
        col("event_type") === "purchase" && col("value") > 150)
    }),

    // [EXT] Behavior: CUPED variance-reduced experiment means over the
    // same hash split — pre-period (Jan 1–15) spend debiases the
    // post-period metric; pooled θ from decimal-exact moments.
    "q_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("variant",
        when(graft.functions.HashExprs
          .md5Prefix60(col("user_id").cast("string")) % 2 === 0, "A")
          .otherwise("B"))
      Behavior.cupedAdjustedMeans(
        ev, "user_id", "variant", "value",
        col("ts") < lit("2024-01-16").cast("timestamp"))
    }),

    // [EXT] Behavior: cohort LTV — revenue by (acquisition week, age);
    // one user-key shuffle, decimal-exact sums.
    "q_cohort_ltv" -> ((s, dir) =>
      Behavior.cohortLtv(
        Tables.events(s, dir), "user_id", "event_type", "ts",
        "value", revenueType = "purchase")),

    // [EXT] Behavior: daily new-user counts + cumulative audience size
    // (running sum over the calendar-bounded daily frame only).
    "q_running_distinct" -> ((s, dir) =>
      Behavior.cumulativeDistinctUsers(
        Tables.events(s, dir), "user_id", "ts")),

    // [EXT] Behavior: last-touch attribution — purchases credited to
    // the latest preceding click/view within 7 days, else "direct".
    "q_attribution" -> ((s, dir) =>
      Behavior.lastTouchAttribution(
        Tables.events(s, dir), "event_id", "user_id", "event_type",
        "ts", "value", "purchase", Seq("click", "view"), windowDays = 7)),

    // [EXT] Per-group top-k via WindowGroupLimit (map-side k-prune):
    // top-3 parts per supplier by decimal-exact revenue.
    "q_topk_per_group" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)"))).as("__rev"))
      graft.ext.Analytics.topKPerGroup(
        rev, Seq("l_suppkey"), "__rev", Seq("l_partkey"), k = 3)
        .select(col("l_suppkey"), col("l_partkey"),
          col("__rev").cast("double").as("revenue"), col("rank"))
    }),

    // [EXT] Benford first-digit audit on order totals (fraud/quality
    // signal; exact integer-string digit extraction).
    "q_benford" -> ((s, dir) =>
      graft.ops.Quality.benfordAudit(
        Tables.orders(s, dir), "o_totalprice")),

    // [EXT] Zipf fit: OLS slope of ln(freq) vs ln(rank) over the top
    // vocabulary — corpus-health number for the dataset card.
    "q_zipf_fit" -> ((s, dir) =>
      Vocab.zipfFit(Tables.documents(s, dir), "doc_id", "text", k = 100)),

    // [EXT] Zone map over the Morton curve: the data-skipping stats
    // table (per-cell min/max/count of both dims), quad-tree level 18.
    "q_zone_map" -> ((s, dir) =>
      graft.sink.ZOrderedLake.zoneMap(
        Tables.lineitem(s, dir), "l_partkey", "l_suppkey",
        bits = 16, zoneBits = 18)),

    // [EXT] Graph: degree-oriented triangle count on the co-purchase
    // graph (compact-forward; wedge fan-out O(m^1.5), no nested loop).
    "q_triangles" -> ((s, dir) =>
      graft.ext.Graph.triangleCount(
        graft.ext.Analytics.coOccurrencePairs(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L),
        "item_a", "item_b")),

    // [EXT] Portable HyperLogLog distinct estimate (b=9, 512 registers)
    // — exact-integer register summary, bit-identical sketch in DuckDB.
    "q_approx_distinct" -> ((s, dir) =>
      graft.ext.Sketches.approxDistinct(
        Tables.lineitem(s, dir), Seq("l_returnflag"), "l_orderkey", b = 9)),

    // [EXT] Count-Min sketch (portable 4×256 counter table, exact
    // integer cells) probed for the exact top-20 users: the mergeable
    // heavy-hitter shape — estimate >= exact, collisions only add.
    "q_countmin" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sketch = graft.ext.Sketches.countMin(
        ev, "user_id", depth = 4, width = 256)
      val top = ev.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("user_id").asc)
        .limit(20)
      graft.ext.Sketches.countMinEstimate(sketch, top, "user_id", 4, 256)
    }),

    // [EXT] Hashing-trick featurization: fixed 64-bucket space via the
    // portable md5-prefix hash; sparse (doc, bucket, cnt) rows.
    "q_feature_hash" -> ((s, dir) =>
      Vocab.hashedFeatures(Tables.documents(s, dir), "doc_id", "text", 64)),

    // [EXT] Interval×interval overlap self-join (binned equi-join,
    // first-live-bin reporting — no BNLJ, no pair-dedup shuffle):
    // which of a customer's 7-day order windows collide?
    "q_interval_overlap" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("w_end"))
      RangeJoin.intervalOverlapPairs(
        o, "o_custkey", "o_orderkey", "w_start", "w_end",
        binSeconds = 7L * 86400L)
    }),

    // [EXT] Scale-safe global NTILE: standard ntile semantics from the
    // distributed ordinal, not a single-partition window.
    "q_ntile_deciles" -> ((s, dir) =>
      Ordinal.withNtile(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice"), col("o_orderkey")), k = 10,
        outCol = "decile")),

    // [EXT] Z-order (Morton) clustering key for data-skipping layouts;
    // the oracle recomputes the interleave with plain SQL bit ops.
    "q_zorder_key" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.BitExprs.zOrder2(
          col("l_partkey"), col("l_suppkey"), bits = 16).as("zval"))),

    // [EXT] Lakehouse MERGE semantics: update/insert/delete arms from
    // one full-outer join (change set derived deterministically from
    // the key so both engines build the identical source).
    "q_merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val k = col("o_orderkey")
      val target = o.filter(k % 10 =!= 9)
      val source = o
        .filter(k % 5 === 0 || k % 7 === 3 || k % 10 === 9)
        .withColumn("o_totalprice",
          when(k % 5 === 0 && k % 7 =!= 3, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .withColumn("is_delete", k % 7 === 3)
      graft.ops.Merge.mergeInto(target, source, Seq("o_orderkey"), "is_delete")
    }),

    // [EXT] Analytics: per-type winsorization (outlier clipping to the
    // [p05, p95] band; exact percentiles, broadcast bounds).
    "q_winsorize" -> ((s, dir) =>
      graft.ext.Analytics.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95)),

    // [EXT] Analytics: market-basket co-occurrence — co-partitioned
    // self-join on the basket key, normalized pairs, support filter.
    "q_copurchase" -> ((s, dir) =>
      graft.ext.Analytics.coOccurrencePairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L)),

    // [EXT] Market-basket association rules over the co-occurrence
    // pairs: support/confidence/lift from exact integer counts,
    // item-count broadcasts back onto the thresholded rule stream.
    "q_assoc_rules" -> ((s, dir) =>
      graft.ext.Analytics.associationRules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
        minPairCount = 3L)),

    // [EXT] Audience-overlap matrix: distinct-user Jaccard/overlap for
    // every event-type pair — entity-keyed self-join, zero-overlap
    // grid re-introduced from the broadcast sizes table.
    "q_audience_overlap" -> ((s, dir) =>
      graft.ext.Analytics.audienceOverlap(
        Tables.events(s, dir), "event_type", "user_id")),

    // [EXT] Corpus-overlap matrix BY SOURCE: distinct-shingle Jaccard
    // between every source pair — "how much do these two crawls share?"
    // The same entity-keyed overlap plan with shingles as the entity.
    "q_source_overlap" -> ((s, dir) =>
      graft.ext.Analytics.audienceOverlap(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"),
            explode(Dedup.shingles(col("text"), 3)).as("__sh")),
        "source", "__sh")),

    // [EXT] Inter-arrival profile: per-type percentiles of the gap
    // between a user's consecutive events of the same type — per-user
    // windows, never global. Gaps quantize to exact integer SECONDS
    // (micros-magnitude integers push the two engines' percentile
    // interpolation formulas apart beyond 6 dp; second-magnitude
    // integers keep them bit-identical — observed, not theoretical).
    "q_interarrival" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap_us").isNotNull)
        // Exact for any plausible gap: the true quotient is ≥ 1e-6 from
        // the next integer while the double ulp here is ~1e-10.
        .withColumn("gap_s",
          floor(col("gap_us").cast("double") / lit(1e6)).cast("long"))
      ext.Analytics.valueQuantiles(gaps, Seq("event_type"), "gap_s")
    }),

    // [EXT] Hybrid-retrieval fusion: RRF over the exact and LSH
    // retrievers' per-query top-10 lists (k-bounded join + per-query
    // window; decide-on-quantized ranking).
    "q_rrf_fuse" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 50)
      Similarity.rrfFuse(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10),
        Similarity.lshBucketedTopK(
          emb, q, "vec_id", "embedding", k = 10, dim = 64,
          bits = lshBitsFor(dir, emb)),
        kConst = 60, topK = 10)
    }),

    // [EXT] TimeSeries: dense gap-filled hourly series + trailing 24 h
    // moving average per type (windows run over the dense spine, not
    // the raw events).
    "q_gapfill_rolling" -> ((s, dir) =>
      graft.ext.TimeSeries.rollingHourlyAverage(
        Tables.events(s, dir), "event_type", "ts", frameHours = 24)),

    // [EXT] Dedup: Bloom-prefiltered incremental exact dedup — same
    // answer as q_dedup_incremental (shared oracle), but only
    // bloom-positive digests reach the history anti-join.
    "q_dedup_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.bloomPrefilteredIncremental(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Dedup.textDigests(d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"),
        expectedItems = 100000L, fpp = 0.03)
    }),

    // [EXT] Per-source weighted sampling: independent A-ES draw per
    // stratum, bounded-heap per group (corpus mixing).
    "q_sample_weighted_strata" -> ((s, dir) =>
      graft.ext.Sampling.weightedSampleByGroup(
        Tables.documents(s, dir), Seq("source"), "doc_id", "n_chars",
        k = 5)),

    // [EXT] Dataset-card dashboard: per-source corpus report composing
    // token stats, integer-exact mean quality, exact-dup rate, and
    // language spread in ONE aggregate pass (the multi-distinct Expand
    // is the documented cost, as in q_profile_columns).
    // Determinism: avg_quality_micro and dup_rate_micro are INTEGER
    // micro-units — 6-dp HALF_UP of exact rationals computed ENTIRELY
    // in integer space, round_half_up(a/b, 6dp)·10⁶ =
    // (2·a·10⁶ + b) div (2·b) — and the output carries the BIGINT
    // itself. The former trailing CAST(… AS DOUBLE)/1e6 (r06–r09
    // hash-fail on this very query) is gone: no double ever crosses
    // the hash boundary, so no engine/version cast or division
    // semantics can perturb it. The per-doc quality score is an exact
    // DECIMAL(9,6), so its 10⁶-scaled sum is an exact integer.
    "q_corpus_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          sum(TextStats.qualityScoreMicro(col("text"))).as("__qsum"),
          countDistinct(TextStats.fingerprint(col("text"))).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("avg_quality_micro",
          expr("CAST((2 * __qsum + n_docs) div (2 * n_docs) AS BIGINT)"))
        .withColumn("dup_rate_micro",
          expr("CAST((2 * (n_docs - n_unique) * 1000000 + n_docs) " +
            "div (2 * n_docs) AS BIGINT)"))
        .select("source", "n_docs", "total_tokens", "avg_quality_micro",
          "n_unique", "n_langs", "dup_rate_micro")
    }),

    // [EXT] Record linkage: match customers against a deterministically
    // perturbed snapshot (typo'd names, drifted balances) — blocked
    // equi-join candidates, weighted similarity score.
    "q_record_link" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val k = col("c_custkey")
      val right = c.select(
        k.as("r_custkey"),
        concat(substring(col("c_name"), 1, 17),
          when(k % 3 === 0, lit("X"))
            .otherwise(substring(col("c_name"), 18, 1))).as("r_name"),
        col("c_nationkey").as("r_nationkey"),
        when(k % 5 === 0, col("c_acctbal") + lit(0.5))
          .otherwise(col("c_acctbal")).as("r_acctbal"),
        col("c_mktsegment").as("r_mktsegment"))
      // acctbal band-blocking is EXACT here: 0.7·nameSim alone cannot
      // reach the 0.9 threshold, so every accepted pair needs the 0.3
      // balance term, which zeroes outside |Δ| < 1.0 — the band width.
      // Without it the 125 constant-cardinality (nation, segment)
      // blocks grow linearly with the corpus and pairs quadratically
      // (measured 39.9× wall-time at 30× data; see SCALING.md).
      graft.ops.Linkage.scoredLink(
        c, right,
        Seq("c_nationkey" -> "r_nationkey", "c_mktsegment" -> "r_mktsegment"),
        "c_custkey", "r_custkey",
        Seq(
          0.7 -> graft.ops.Linkage.nameSimilarity(
            col("c_name"), col("r_name"), maxDist = 2),
          0.3 -> when(abs(col("c_acctbal") - col("r_acctbal")) < 1.0, lit(1.0))
            .otherwise(lit(0.0))),
        threshold = 0.9,
        bandBlock = Some(("c_acctbal", "r_acctbal", 1.0)))
    }),

    // [EXT] Golden records: originals (priority 2, acctbal nulled for
    // k%7=0) + perturbed twins (priority 1, segment nulled for k%3=0)
    // collapse per entity with field-level survivorship — the trusted
    // source's null must NOT erase the twin's real value.
    "q_golden_record" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val k = col("c_custkey")
      val originals = c.select(
        k.cast("long").as("rec_id"), lit(2L).as("priority"),
        col("c_name").as("name"), col("c_nationkey").as("nationkey"),
        when(k % 7 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("acctbal"),
        col("c_mktsegment").as("mktsegment"))
      val twins = c.select(
        (k + 1000000L).cast("long").as("rec_id"), lit(1L).as("priority"),
        concat(substring(col("c_name"), 1, 17),
          when(k % 3 === 0, lit("X"))
            .otherwise(substring(col("c_name"), 18, 1))).as("name"),
        col("c_nationkey").as("nationkey"),
        when(k % 5 === 0, col("c_acctbal") + lit(0.5))
          .otherwise(col("c_acctbal")).as("acctbal"),
        when(k % 3 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("mktsegment"))
      graft.ops.Linkage.goldenRecords(
        originals.unionByName(twins), "rec_id", "priority",
        c.select(k.cast("long").as("id_a"),
          (k + 1000000L).cast("long").as("id_b")),
        "id_a", "id_b",
        Seq("name", "nationkey", "acctbal", "mktsegment"))
    }),

    // [EXT] Graph analytics: 3-iteration PageRank over the undirected
    // co-purchase item graph — 12-dp-rounded contributions summed as
    // decimals, so the ranking is partition-order-independent.
    "q_pagerank" -> ((s, dir) => {
      val pairs = graft.ext.Analytics.coOccurrencePairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCount = 2L)
      val edges = pairs.select(col("item_a").as("s"), col("item_b").as("d"))
        .union(pairs.select(col("item_b").as("s"), col("item_a").as("d")))
      graft.ext.Graph.pageRank(edges, "s", "d", iters = 3)
    }),

    // [EXT] Time-series similarity search: top-10 day-windows of the
    // hourly click-value series most correlated with a linear ramp —
    // decimal-exact sliding moments keyed on window start.
    "q_ts_motif" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "click" &&
          col("ts").isNotNull && col("value").isNotNull)
        .groupBy(expr("unix_micros(ts) div 3600000000").as("t"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("v"))
      graft.ext.TimeSeries.slidingCorrelation(
        series, "t", "v", (1 to 24).map(_.toDouble), k = 10)
    }),

    // [EXT] Seasonality diagnostic: sample autocorrelation of the
    // daily order-revenue series at lags 1..7 — lag-aligned by
    // self-equi-join (never an unpartitioned window), decimal-exact
    // moments, floor-quantized coefficients.
    "q_acf" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
        .select(
          datediff(col("o_orderdate"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("t"),
          col("x"))
      graft.ext.TimeSeries.autocorrelation(daily, "t", "x", maxLag = 7)
    }),

    // [EXT] Volume change-point: the day the event-stream level
    // shifted, by the standardized two-segment contrast over exact
    // integer daily counts — distributed prefix sums, one-row argmax.
    "q_changepoint" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.changepoint(daily, "t", "cnt")
    }),

    // [EXT] Seasonal-naïve backtest (MASE): does the weekly cycle in
    // per-type daily volume beat the naïve forecast? Lag alignment by
    // self-equi-join, decimal-exact error sums.
    "q_seasonal_mase" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"),
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.seasonalNaiveBacktest(
        daily, Seq("event_type"), "t", "cnt", period = 7)
    }),

    // [EXT] Classical additive decomposition of daily value per type:
    // centered 7-day MA trend, re-centered day-of-week seasonal
    // indices, residual — all floor-quantized, decimal-exact sums.
    "q_seasonal_decomp" -> ((s, dir) =>
      graft.ext.TimeSeries.seasonalDecompose(
        Tables.events(s, dir), "event_type", "ts", "value")),

    // [EXT] Lead-lag cross-correlation: daily click volume vs daily
    // purchase volume at lags −7..7 — lag-key self-join alignment,
    // full-series decimal moments, floor-quantized coefficients.
    "q_ccf" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      def daily(t: String) = ev.filter(col("event_type") === t)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          datediff(col("day"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("t"),
          col("cnt"))
      graft.ext.TimeSeries.crossCorrelation(
        daily("click"), daily("purchase"), "t", "cnt", maxLag = 7)
    }),

    // [EXT] Per-type quality trend: least-squares slope of value over
    // event time from decimal-exact regression moments.
    "q_trend_slope" -> ((s, dir) =>
      graft.ext.Analytics.linearTrend(
        Tables.events(s, dir), Seq("event_type"), "ts", "value",
        refEpochUs = 1704067200000000L)), // 2024-01-01 00:00:00 UTC

    // [EXT] Distribution drift (PSI) between the purchase segment and
    // the rest of the corpus: exact bin counts, decimal-summed terms.
    "q_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.psi(
        ev.filter(col("event_type") =!= "purchase"),
        ev.filter(col("event_type") === "purchase"),
        "value", width = 32L)
    }),

    // [EXT] SCD2 point-in-time lookup: every event joined to the
    // dimension version in force at its timestamp — Scd history
    // composed with the union-merge as-of join. The changelog is
    // pre-collapsed to one change per (user, tick) (max_by event_id)
    // so version opens are unique per timestamp and the as-of fill is
    // deterministic.
    "q_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val chg = ev.groupBy(col("user_id"), col("ts"))
        .agg(
          max(col("event_id")).as("event_id"),
          expr("max_by(event_type, event_id)").as("event_type"))
      val hist = graft.ops.Scd.scd2FromChangelog(
          chg, Seq("user_id"), "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("tier"),
          col("effective_from"))
      graft.ops.AsOf.asOfJoin(
        ev.select("user_id", "ts", "event_id", "value"), hist,
        Seq("user_id"), "ts", "effective_from")
    }),

    // [EXT] Incremental view maintenance: merge a materialized
    // aggregate state with a delta's state — associativity makes the
    // merged result identical to the direct full aggregate, which IS
    // the oracle (base table never re-scanned at production scale).
    "q_agg_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val prev = graft.ops.Aggregate.aggState(
        ev.filter(col("event_id") % 4 =!= 0), Seq("event_type"), "value")
      val delta = graft.ops.Aggregate.aggState(
        ev.filter(col("event_id") % 4 === 0), Seq("event_type"), "value")
      graft.ops.Aggregate.mergeAggStates(prev, delta, Seq("event_type"))
        .withColumn("sum_val", col("sum_val").cast("double"))
    }),

    // [EXT] OLAP: exact Pearson correlation matrix (decimal-exact
    // moments — partition order cannot perturb the coefficients).
    "q_corr_matrix" -> ((s, dir) =>
      Olap.correlationMatrix(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // [EXT] HTML -> text boilerplate strip (web-crawl extraction):
    // deterministic markup wrapped around each document in both
    // engines, then the same regex pipeline.
    "q_html_strip" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head><body><h1>"),
        col("source"), lit("</h1><p>"), col("text"),
        lit(" &amp; \"quotes\" &lt;tag&gt;</p><!-- note -->" +
          "<script type=\"text/js\">var x = 1;</script></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ext.TextClean.stripHtml(html).as("clean"))
    }),

    // [EXT] BM25 lexical retrieval: exact-count inputs, 6-dp-rounded
    // scores, bounded-heap global top-k (no global sort).
    "q_bm25_search" -> ((s, dir) =>
      Vocab.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "merge"), k = 50)),

    // [EXT] OLAP: CUBE grouping sets — all 2^n levels from one Expand
    // pass, same shape as q_rollup_sales.
    "q_cube_sales" -> ((s, dir) =>
      Olap.cubeSum(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice")),

    // [EXT] Distributed global PERCENT_RANK (quality-percentile
    // normalization) — no single-partition window; prefix-sum over
    // distinct values.
    "q_quality_pct" -> ((s, dir) =>
      graft.ext.Analytics.percentRank(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "pct_rank")),

    // [EXT] URL canonicalization + dedup-by-URL: three deterministic
    // spellings of the same page (tracking params, fragment, case,
    // trailing slash, query order) must collapse to one canonical row.
    "q_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      val page = (id % 50).cast("string")
      val qid = (id % 25).cast("string")
      val url = when(id % 3 === 0,
          concat(lit("HTTPS://Example.COM/"), col("source"), lit("/page"),
            page, lit("/?utm_source=feed&id="), qid, lit("&utm_campaign=x#frag")))
        .when(id % 3 === 1,
          concat(lit("https://example.com/"), col("source"), lit("/page"),
            page, lit("?id="), qid))
        .otherwise(
          concat(lit("https://example.com/"), col("source"), lit("/page"),
            page, lit("?ref=tw&id="), qid))
      graft.ext.UrlOps.dedupByCanonicalUrl(
        Tables.documents(s, dir).select(id, url.as("url")), "doc_id", "url")
    }),

    // [EXT] Deterministic A-ES weighted sampling (weight = document
    // length): pure projection + bounded-heap top-k, reproducible and
    // auditable cross-engine.
    "q_sample_weighted" -> ((s, dir) =>
      graft.ext.Sampling.weightedSample(
        Tables.documents(s, dir), "doc_id", "n_chars", k = 100)),

    // [EXT] Dedup: Levenshtein-1 fuzzy key pairs via the FastSS
    // deletion neighborhood — complete equi-join candidates, exact
    // verify, never an all-pairs product.
    "q_dedup_edit" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_name")),

    // [EXT] SCD Type-2 dimension history from the event changelog:
    // per-user tier (event_type) versions with half-open validity
    // ranges; run-collapse + both windows on ONE key shuffle.
    "q_scd2_history" -> ((s, dir) =>
      graft.ops.Scd.scd2FromChangelog(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", "event_id", Seq("event_type"))),

    // [EXT] CDC snapshot diff: insert/update/delete classification from
    // one full-outer join (both snapshots derived deterministically
    // from orders so the oracle builds the identical inputs).
    "q_snapshot_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val k = col("o_orderkey")
      val oldSnap = o.filter(k % 10 =!= 0)
      val newSnap = o.filter(k % 7 =!= 0)
        .withColumn("o_totalprice",
          when(k % 5 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
      graft.ops.Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
    }),
  )

  // =====================================================================
  // DuckDB oracles (driver runs them on the same parquet at sf0.01)
  // =====================================================================

  /** DuckDB oracle for q_dedup_minhash, generated from the SAME hash
    * family as [[Dedup.portableMinHashSignatures]] (seeds inlined below
    * via [[Dedup.portableSeeds]]).
    */
  private def minHashOracleSql: String = {
    val P = Dedup.PortableP
    val seeds = Dedup.portableSeeds(16)
    val slotDefs = seeds.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((m * $a + $b) % $P) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { band =>
      val key = (band * 4 until band * 4 + 4).map(i => s"h$i").mkString(" || ':' || ")
      s"SELECT doc_id, $band AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
t AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, len(tk) - 2),
    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
  FROM toks),
e AS (SELECT doc_id, unnest(shingles) AS sh FROM t),
h AS (SELECT doc_id,
    ('0x' || substr(md5(sh), 1, 15))::BIGINT % $P AS m FROM e),
sig AS (
  SELECT doc_id,
    $slotDefs
  FROM h GROUP BY doc_id),
banded AS (
  $bandSelects),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
j AS (
  SELECT c.id_a, c.id_b,
    CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
      / CAST(len(ta.shingles) + len(tb.shingles)
             - len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN t ta ON ta.doc_id = c.id_a
  JOIN t tb ON tb.doc_id = c.id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5"""
  }

  /** DuckDB oracle for q_dedup_simhash — same 60-bit md5 token hash,
    * bit sums, banding, and Hamming filter, generated programmatically.
    */
  private def simHashOracleSql: String = {
    val bits = 60
    val nBands = 6
    val width = 10
    val bitSumDefs = (0 until bits).map { i =>
      s"SUM(CASE WHEN (m >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sigExpr = (0 until bits).map { i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val bandSelects = (0 until nBands).map { band =>
      s"SELECT doc_id, simhash, $band AS band, (simhash >> ${band * width}) & ${(1L << width) - 1} AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS tok
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS m FROM e),
bs AS (
  SELECT doc_id,
    $bitSumDefs
  FROM h GROUP BY doc_id),
sig AS (
  SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM bs),
banded AS (
  $bandSelects),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= ${nBands - 1}"""
  }

  /** DuckDB oracle for q_sim_lsh: the sign-LSH hyperplanes are the SAME
    * JVM-deterministic constants [[Similarity.hyperplane]] uses, inlined
    * as double literals; projections are rounded to 6 dp before the sign
    * test in BOTH engines so bucket ids agree bit-exactly.
    */
  /** SQL IN-list of [[TextStats.enStopwords]] — generated so the oracle
    * and the Spark side can never drift (same pattern as the MinHash
    * seeds and LSH hyperplanes).
    */
  private def stopwordSqlList: String =
    TextStats.enStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** [[TextStats.qualityScore]] as DuckDB SQL over a column `text` —
    * the same exact-integer definition (score·10⁶ = 7000·min(t,100) +
    * ⌊(600000·sw + t)/(2t)⌋, native integer `//` here, exact
    * floor-of-double-division on the Spark side — equal integers, see
    * the Scala doc), then one exact ÷10⁶ into DOUBLE.
    */
  /** [[graft.ext.Vocab.unigramSurprisal]] as a DuckDB CTE chain ending
    * in `surp(doc_id, n_tokens, surprisal)` — shared by the
    * q_unigram_surprisal and q_perplexity_bucket oracles (same model,
    * same 6-dp-round-then-DECIMAL accumulation discipline).
    */
  private def surprisalSqlCtes: String =
    """tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |tot AS (
      |  SELECT CAST(SUM(len(str_split(trim(lower(text)), ' '))) AS DOUBLE) AS t
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, tf,
      |    ROUND(-ln(CAST(SUM(tf) OVER (PARTITION BY term) AS DOUBLE) / tot.t), 6)
      |      AS nll
      |  FROM tf CROSS JOIN tot),
      |surp AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    ROUND(CAST(SUM(CAST(tf AS DECIMAL(18,6)) * CAST(nll AS DECIMAL(18,6)))
      |      AS DOUBLE) / SUM(tf), 6) AS surprisal
      |  FROM w GROUP BY doc_id)""".stripMargin

  /** DuckDB lateral-alias chain computing
    * [[graft.functions.DetMath.expq]] over a prior alias `in`,
    * emitting alias `out` — op-for-op the Spark tree (constants in
    * scientific notation / double quotients; see [[lnSqlChain]]).
    * DuckDB FLOOR returns DOUBLE where Spark's returns LONG — same
    * value, and the k·ln2 product is identical either way.
    */
  private def expSqlChain(in: String, out: String): String = {
    val (k, r, s) = (s"__ek$out", s"__er$out", s"__es$out")
    s"""FLOOR($in * (1e0 / 6.931471805599453e-1) + 5e-1) AS $k,
       |  $in - $k * 6.931471805599453e-1 AS $r,
       |  1e0 + $r * (1e0 + $r * ((1e0/2e0) + $r * ((1e0/6e0) +
       |    $r * ((1e0/24e0) + $r * ((1e0/120e0) + $r * ((1e0/720e0) +
       |    $r * ((1e0/5040e0) + $r * ((1e0/40320e0) + $r * ((1e0/362880e0) +
       |    $r * ((1e0/3628800e0) + $r * ((1e0/39916800e0) +
       |    $r * (1e0/479001600e0)))))))))))) AS $s,
       |  $s * POWER(2e0, $k) AS $out""".stripMargin
  }

  /** [[graft.ext.TextStats.gopherRules]]'s integer moments as a CTE
    * chain ending in `gm(doc_id, n_words, chars, sym, alpha, stp)` —
    * shared by the q_gopher_rules and q_curation_pipeline oracles.
    */
  private def gopherMomentsCtes: String =
    """gtk AS (
      |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |gm AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT) AS chars,
      |    CAST(len(list_filter(tk, t -> contains(t, '#')
      |      OR contains(t, '…'))) AS BIGINT) AS sym,
      |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
      |      AS BIGINT) AS alpha,
      |    CAST(len(list_filter(tk, t -> t IN ('the', 'be', 'to', 'of',
      |      'and', 'that', 'have', 'with'))) AS BIGINT) AS stp
      |  FROM gtk)""".stripMargin

  /** The Gopher pass conjunction over `gm`'s columns. */
  private def gopherPassSql: String =
    """(n_words BETWEEN 5 AND 1000)
      |    AND chars >= n_words * 3 AND chars <= n_words * 10
      |    AND sym * 10 <= n_words AND alpha * 5 >= n_words * 4
      |    AND stp >= 2""".stripMargin

  /** The exact-integer score·10⁶ mirror of
    * [[graft.ext.TextStats.qualityScoreMicro]] — pure integer
    * arithmetic (`//` = Spark's proven-exact floored division), the
    * form to SUM when a hash-compared contract must stay
    * double-free.
    */
  private def qualityMicroSqlExpr: String =
    s"""(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
       |    + ((600000 * LEN(list_filter(str_split(TRIM(text), ' '),
       |         t -> t IN ${stopwordSqlList})) + LEN(str_split(TRIM(text), ' ')))
       |       // (2 * LEN(str_split(TRIM(text), ' ')))))""".stripMargin

  private def qualitySqlExpr: String =
    s"(CAST($qualityMicroSqlExpr AS DOUBLE) / 1e6)"

  /** DuckDB lateral-column-alias chain computing
    * [[graft.functions.DetMath.lnq]] — graft's cross-engine
    * deterministic ln — over an input column `in` (a prior alias in
    * the same SELECT, must be a bare identifier), emitting the result
    * as alias `out`. Op-for-op the same IEEE tree as the Spark side;
    * every inexact constant is written in scientific notation or as a
    * double quotient so DuckDB types it DOUBLE (a bare `2.0/3.0`
    * would be DECIMAL division — a DIFFERENT number). Intermediate
    * aliases are suffixed with `out` so two chains can share a
    * SELECT (the JSD oracle needs one per side).
    */
  private def lnSqlChain(in: String, out: String): String = {
    val (k0, m0, k, m, t, u, s) = (s"__k0$out", s"__m0$out", s"__k$out",
      s"__m$out", s"__t$out", s"__u$out", s"__s$out")
    s"""CAST(FLOOR(LOG2($in)) AS BIGINT) AS $k0,
       |  $in * POWER(2e0, -$k0) AS $m0,
       |  CASE WHEN $m0 >= 2e0 THEN $k0 + 1
       |       WHEN $m0 < 1e0 THEN $k0 - 1 ELSE $k0 END AS $k,
       |  CASE WHEN $m0 >= 2e0 THEN $m0 * 5e-1
       |       WHEN $m0 < 1e0 THEN $m0 * 2e0 ELSE $m0 END AS $m,
       |  ($m - 1e0) / ($m + 1e0) AS $t,
       |  $t * $t AS $u,
       |  $t * (2e0 + $u * ((2e0/3e0) + $u * ((2e0/5e0) + $u * ((2e0/7e0) +
       |    $u * ((2e0/9e0) + $u * ((2e0/11e0) + $u * ((2e0/13e0) +
       |    $u * ((2e0/15e0) + $u * ((2e0/17e0) + $u * ((2e0/19e0) +
       |    $u * ((2e0/21e0) + $u * (2e0/23e0)))))))))))) AS $s,
       |  $s + CAST($k AS DOUBLE) * 6.931471805599453e-1 AS $out""".stripMargin
  }

  /** DuckDB lateral-alias chain mirroring
    * [[graft.functions.DetMath.lnRatioFp]] — the EXACT-INTEGER
    * fixed-point ⌊ln(a/b)·10¹⁸⌋-class kernel — over prior aliases
    * `a`, `b` (positive BIGINTs, a ≥ b ≥ 1), emitting HUGEINT alias
    * `out`. Every op is an integer compare / multiply / truncating
    * divide (`//` on non-negative HUGEINTs = Spark's `div`), and the
    * Horner coefficients are the SAME pinned integer literals as
    * [[graft.functions.DetMath.LnFpCoeffs]] — both engines run the
    * identical integer program, so any engine VERSION reproduces the
    * value bit-for-bit: no double exists anywhere in the chain.
    */
  private def lnRatioFpSql(a: String, b: String, out: String): String = {
    val q = graft.functions.DetMath.FpQ
    val cs = graft.functions.DetMath.LnFpCoeffs
    val (k0, k, b2, t, u) = (s"__k0$out", s"__k$out", s"__b2$out",
      s"__t$out", s"__u$out")
    val acc = cs.indices.map(i => s"__a$i$out")
    val horner = (cs.size - 2 to 0 by -1).map { i =>
      s"  ${cs(i)}::HUGEINT + ($u * ${acc(i + 1)}) // $q AS ${acc(i)},"
    }.mkString("\n")
    s"""LENGTH(bin($a)) - LENGTH(bin($b)) AS $k0,
       |  CASE WHEN $a >= ($b << $k0) THEN $k0 ELSE $k0 - 1 END AS $k,
       |  ($b << $k) AS $b2,
       |  (($a - $b2)::HUGEINT * $q) // ($a + $b2) AS $t,
       |  ($t * $t) // $q AS $u,
       |  ${cs.last}::HUGEINT AS ${acc.last},
       |$horner
       |  ($t * ${acc.head}) // $q
       |    + $k::HUGEINT * ${graft.functions.DetMath.Ln2Fp} AS $out"""
      .stripMargin
  }

  /** [[graft.ext.Similarity.adaptiveLshBits]] as a DuckDB CASE over a
    * row count `n` — the same integer 256·2^b thresholds, so both
    * engines pick the identical rung at every corpus size.
    */
  private def adaptiveLshBitsSqlCase: String =
    (4 to 28 by 2)
      .map(b => s"WHEN n <= ${256L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 30 END")

  /** Ladder-bits bucketing CTEs over a prepared relation `e(vec_id,
    * emb)`: `nb` picks the rung from COUNT(*), `b` computes the
    * 30-plane bucket once and masks it to the chosen width (bucket
    * weights plane p by 2^p, so the low b bits ARE the b-plane
    * bucket — exactly what the Spark side evaluates directly).
    */
  private def adaptiveLshBucketedCte(dim: Int): String =
    s"""nb AS (SELECT $adaptiveLshBitsSqlCase AS ab
  FROM (SELECT COUNT(*) AS n FROM e)),
b AS (
  SELECT vec_id, emb,
    (${lshBucketSqlExpr(bits = 30, dim = dim)})
      % (1::BIGINT << (SELECT ab FROM nb)) AS bucket
  FROM e)"""

  /** The sign-LSH bucket id as DuckDB SQL over a column `emb`
    * (DOUBLE[]), with the SAME hyperplane constants as
    * [[Similarity.lshBucket]] inlined as literals.
    */
  private def lshBucketSqlExpr(bits: Int, dim: Int): String =
    (0 until bits).map { p =>
      val lits = Similarity.hyperplane(p, dim).mkString("[", ", ", "]")
      s"(CASE WHEN ROUND(list_inner_product(emb, $lits), 6) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")

  private def simTopkOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 50),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_inner_product(q.qe, e.emb)
      |      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
      |  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, sim, rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM p)
      |WHERE rnk <= 10""".stripMargin

  // RRF fusion of the exact and LSH retrievers: each retriever SQL is
  // embedded verbatim as a CTE, so the fused oracle can never drift
  // from the per-retriever oracles it composes.
  private def rrfFuseOracleSql: String =
    s"""WITH ra AS ($simTopkOracleSql),
rb AS ($simLshOracleSql),
j AS (
  SELECT COALESCE(ra.query_id, rb.query_id) AS query_id,
    COALESCE(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
    ra.rnk AS rank_a, rb.rnk AS rank_b,
    FLOOR((COALESCE(1.0 / (60 + CAST(ra.rnk AS DOUBLE)), 0.0)
      + COALESCE(1.0 / (60 + CAST(rb.rnk AS DOUBLE)), 0.0)) * 1e6) / 1e6
      AS rrf
  FROM ra FULL JOIN rb
    ON ra.query_id = rb.query_id AND ra.neighbor_id = rb.neighbor_id)
SELECT query_id, neighbor_id, rank_a, rank_b, rrf, fused_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY rrf DESC, neighbor_id) AS fused_rank
  FROM j)
WHERE fused_rank <= 10"""

  /** Recall@10 of the LSH retriever vs exact: both retriever SQLs
    * embedded verbatim (the rrfFuse discipline — the eval can never
    * drift from the retrievers it evaluates).
    */
  private def annRecallOracleSql: String =
    s"""WITH ex AS ($simTopkOracleSql),
ap AS ($simLshOracleSql),
j AS (
  SELECT e.query_id,
    CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
  CAST(CAST(SUM(hit) AS BIGINT) AS DOUBLE) / 10e0 AS recall
FROM j GROUP BY 1"""

  /** The integer feature frame shared by the ridge fit and its eval:
    * (token count, stopword count, quality micro-score).
    */
  private def ridgeFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(
        TextStats.tokenCount(col("text")).cast("long").as("x1"),
        size(filter(TextStats.tokens(col("text")),
          w => w.isin(TextStats.enStopwords: _*))).cast("long").as("x2"),
        TextStats.qualityScoreMicro(col("text")).as("y"))

  /** The q_ridge_quality fit chain (features -> moments -> Cramer ->
    * quantized weights) as shared CTEs ending in `f` and `wq` — the
    * eval oracle scores over the same chain so fit and eval can never
    * drift.
    */
  private def ridgeFitCtes: String =
    """f AS (
      |  SELECT CAST(LEN(str_split(TRIM(text), ' ')) AS HUGEINT) AS x1,
      |    CAST(LEN(list_filter(str_split(TRIM(text), ' '),
      |      t -> t IN ('the','a','an','of','and','to','in','is','on',
      |                 'for','with','at','by','from','as','it','that',
      |                 'this'))) AS HUGEINT) AS x2,
      |    CAST(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
      |      + (600000 * LEN(list_filter(str_split(TRIM(text), ' '),
      |           t -> t IN ('the','a','an','of','and','to','in','is','on',
      |                      'for','with','at','by','from','as','it','that',
      |                      'this'))) + LEN(str_split(TRIM(text), ' ')))
      |        // (2 * LEN(str_split(TRIM(text), ' '))) AS HUGEINT) AS y
      |  FROM documents WHERE text IS NOT NULL),
      |m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(x1) AS s1, SUM(x2) AS s2,
      |    SUM(x1 * x1) + 100 AS s11, SUM(x1 * x2) AS s12,
      |    SUM(x2 * x2) + 100 AS s22,
      |    SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      |  FROM f),
      |d AS (
      |  SELECT n,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det1,
      |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      |      + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM m),
      |wq AS (
      |  SELECT n,
      |    (det0 * 1000000 - (det0 * 1000000) % det) // det AS w0q,
      |    (det1 * 1000000 - (det1 * 1000000) % det) // det AS w1q,
      |    (det2 * 1000000 - (det2 * 1000000) % det) // det AS w2q
      |  FROM d)""".stripMargin

  /** Matryoshka recall oracle: the same brute-force top-10 chain run
    * over the full 64-dim and the [1:16] prefix embeddings, joined in
    * the annRecall shape.
    */
  private def mrlRecallOracleSql: String = {
    def topkCte(src: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(list_inner_product(q.emb, c.emb)
         |          / (sqrt(list_inner_product(q.emb, q.emb))
         |            * sqrt(list_inner_product(c.emb, c.emb))), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM $src q JOIN $src c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 50)
         |  WHERE rnk <= 10""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
t AS (SELECT vec_id, emb[1:16] AS emb FROM e),
ex AS (
  ${topkCte("e")}),
ap AS (
  ${topkCte("t")}),
j AS (
  SELECT e.query_id,
    CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
  CAST(CAST(SUM(hit) AS BIGINT) AS DOUBLE) / 10e0 AS recall
FROM j GROUP BY 1"""
  }

  /** The Gopher gate columns, in rule order — shared by the
    * q_gate_ablation query and its oracle generator.
    */
  private val GopherGates = Seq("rule_words", "rule_mean_len",
    "rule_symbols", "rule_alpha", "rule_stopwords")

  /** The per-gate verdict CTE over [[gopherMomentsCtes]]'s `gm` —
    * reused by the ablation oracle so rule definitions cannot drift
    * from q_gopher_rules.
    */
  private def gopherVerdictCte: String =
    s"""$gopherMomentsCtes,
      |gr AS (
      |  SELECT doc_id, n_words,
      |    (n_words BETWEEN 5 AND 1000) AS rule_words,
      |    (chars >= n_words * 3 AND chars <= n_words * 10) AS rule_mean_len,
      |    (sym * 10 <= n_words) AS rule_symbols,
      |    (alpha * 5 >= n_words * 4) AS rule_alpha,
      |    (stp >= 2) AS rule_stopwords
      |  FROM gm)""".stripMargin

  /** One UNION ALL arm per gate (any-failure + sole-failure counts)
    * plus the `__all__` totals arm — generated from [[GopherGates]] so
    * the oracle's gate list tracks the query's.
    */
  private def gateAblationOracleSql: String = {
    val arms = GopherGates.map { g =>
      val others = GopherGates.filter(_ != g).mkString(" AND ")
      s"""SELECT '$g' AS gate,
         |  CAST(SUM(CASE WHEN NOT $g THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_any,
         |  CAST(SUM(CASE WHEN NOT $g AND $others THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fail_sole
         |FROM gr""".stripMargin
    }
    val all = GopherGates.mkString(" AND ")
    val totals =
      s"""SELECT '__all__' AS gate, CAST(COUNT(*) AS BIGINT) AS n_fail_any,
         |  CAST(SUM(CASE WHEN $all THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_sole
         |FROM gr""".stripMargin
    s"WITH $gopherVerdictCte\n" + (arms :+ totals).mkString("\nUNION ALL\n")
  }

  private def simLshOracleSql: String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)},
q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM b WHERE vec_id < 50),
p AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.qe, c.emb)
      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 10"""
  }

  /** DuckDB oracle for q_sim_ivf: centroids are derived the same way the
    * Spark side derives them (the nlist smallest vec_ids), assignment
    * and probing rank by ROUND(sim, 6) DESC, cid DESC — exactly the
    * struct-sort order of [[Similarity.ivfTopK]].
    */
  private def simIvfOracleSql: String = {
    val nlist = 16
    val nprobe = 4
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, emb AS cemb
  FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT $nlist)),
asim AS (
  SELECT e.vec_id, cent.cid,
    ROUND(list_inner_product(e.emb, cent.cemb)
      / (sqrt(list_inner_product(cent.cemb, cent.cemb)) * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, cid AS list FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS r
    FROM asim) WHERE r = 1),
probe AS (
  SELECT vec_id, cid AS list FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS r
    FROM asim WHERE vec_id < 50) WHERE r <= $nprobe),
c AS (SELECT e.vec_id, e.emb, a.list FROM e JOIN assign a USING (vec_id)),
q AS (SELECT e.vec_id AS query_id, e.emb AS qe, p.list FROM e JOIN probe p ON e.vec_id = p.vec_id),
p2 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.qe, c.emb)
      / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM q JOIN c ON q.list = c.list AND c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM p2)
WHERE rnk <= 10"""
  }

  /** DuckDB oracle for q_kmeans_assign: the full deterministic k-means
    * unrolled in SQL — farthest-point init (k−1 argmax layers over
    * ⌊minDist·10⁶⌋; floor commutes with MIN so per-seed floors + MIN
    * equals the Spark side's floor-of-least), then `iters` Lloyd
    * passes, each an argmin assignment over ⌊dist·10⁶⌋ (ties → lower
    * cid, the struct-least order) and a centroid update from exact
    * ⌊v_i·10⁶⌋ BIGINT sums — mirroring [[graft.ext.Embeddings.kmeans]]
    * scalar for scalar. `list_inner_product` is bit-identical to the
    * codegen'd [[graft.functions.DotProduct]].
    */
  private def kmeansOracleSql: String =
    s"""WITH ${kmeansAssignCtes(8, 3)}
SELECT cid AS cluster, COUNT(*) AS n_vectors FROM fin GROUP BY 1"""

  /** DuckDB oracle for q_bpe_merges: the BPE loop unrolled — per
    * merge, one pair count + argmax (total order: cnt desc, pair
    * lexicographic) and the SAME relational greedy-application rule
    * as [[graft.ext.Bpe.learnMerges]] (candidate runs, even offsets
    * apply, following row consumed). All stages MATERIALIZED — the
    * kmeans/PCA lesson: an inline chain re-evaluates per reference.
    */
  private def bpeOracleSql(numMerges: Int): String = {
    val union = (1 to numMerges).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainCtes(numMerges)}
$union"""
  }

  /** BPE-encode oracle: same chain, then the corpus joined to the
    * post-merge vocabulary (symbol counts of s`numMerges`).
    */
  private def bpeEncodeOracleSql(numMerges: Int): String =
    s"""WITH ${bpeChainCtes(numMerges)},
v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM s$numMerges GROUP BY 1)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(v.n) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(LEN(t.word)) AS BIGINT) AS n_chars,
  CAST(CAST(SUM(LEN(t.word)) AS BIGINT) AS DOUBLE)
    / CAST(SUM(v.n) AS BIGINT) AS compression
FROM (SELECT doc_id, word FROM (
        SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
      WHERE LEN(word) > 0) t
JOIN v USING (word)
GROUP BY 1"""

  /** The unrolled BPE loop as a reusable CTE body: word table `w`,
    * per-stage symbols `s0..sN`, per-stage argmax winners `b1..bN`.
    */
  private def bpeChainCtes(numMerges: Int): String = {
    val iterCtes = (1 to numMerges).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
  SELECT word, freq, pos, sym,
    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM $prev),
b$i AS MATERIALIZED (
  SELECT sym AS l, nsym AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p$i WHERE nsym IS NOT NULL GROUP BY 1, 2
  ORDER BY cnt DESC, l, r LIMIT 1),
c$i AS (
  SELECT p.word, p.freq, p.pos, p.sym,
    COALESCE(p.sym = b.l AND p.nsym = b.r, FALSE) AS cand
  FROM p$i p CROSS JOIN b$i b),
g$i AS (
  SELECT *, CASE WHEN cand THEN pos - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
    OVER (PARTITION BY word ORDER BY pos) END AS grp FROM c$i),
a$i AS (
  SELECT *, cand AND (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0
    AS app FROM g$i),
f$i AS (
  SELECT *, COALESCE(lag(app) OVER (PARTITION BY word ORDER BY pos), FALSE)
    AS prev_app FROM a$i),
s$i AS MATERIALIZED (
  SELECT word, freq,
    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
    CASE WHEN app THEN sym || (SELECT r FROM b$i) ELSE sym END AS sym
  FROM f$i WHERE NOT prev_app)"""
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(str_split(trim(lower(text)), ' ')) AS word
    FROM documents WHERE text IS NOT NULL)
  WHERE LEN(word) > 0 GROUP BY word),
s0 AS MATERIALIZED (
  SELECT word, freq, CAST(i AS BIGINT) AS pos,
    substr(word, CAST(i AS INT), 1) AS sym
  FROM w, unnest(range(1, len(word) + 1)) AS t(i)),
$iterCtes"""
  }

  /** Quantized-distance SQL shared by every k-means oracle chain —
    * mirrors [[graft.ext.Embeddings]]'s `quantizedDist` /
    * [[graft.functions.NearestCentroidQ]] bit-for-bit.
    */
  private def kmeansQdSql(emb: String, cemb: String): String =
    s"CAST(FLOOR((list_inner_product($emb, $emb) " +
      s"- list_inner_product($emb, $cemb) * 2.0 " +
      s"+ list_inner_product($cemb, $cemb)) * 1e6) AS BIGINT)"

  /** `e(vec_id, emb, qemb)` + `dims` header shared by the k-means
    * oracle chains.
    */
  private val kmeansHeaderCtes: String =
    s"""e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
    list_transform(CAST(embedding AS DOUBLE[]),
      x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS qemb
  FROM embeddings),
dims AS MATERIALIZED (SELECT UNNEST(range(1, 65)) AS i)"""

  /** The k-AGNOSTIC part of the Lloyd unroll: `iters` iterations from
    * a seed table `c0(cid, emb)` of ANY size, ending in
    * `fin(vec_id, cid)`. Quantized assignment (lowest cid on ties),
    * exact integer centroid sums, empty clusters keep their centroid —
    * the [[graft.ext.Embeddings.kmeans]]/`kmeansSpread` iteration
    * contract.
    */
  private def kmeansIterFinCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      val prev = s"c${t - 1}"
      s"""a$t AS MATERIALIZED (
  SELECT vec_id, qemb, cid FROM (
    SELECT e.vec_id, e.qemb, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${kmeansQdSql("e.emb", "c.emb")} ASC, c.cid ASC) AS r
    FROM e CROSS JOIN $prev c) WHERE r = 1),
u$t AS MATERIALIZED (
  SELECT a.cid, d.i, SUM(a.qemb[d.i]) AS s, COUNT(*) AS n
  FROM a$t a CROSS JOIN dims d GROUP BY a.cid, d.i),
c$t AS MATERIALIZED (
  SELECT p.cid, COALESCE(nc.emb, p.emb) AS emb
  FROM $prev p LEFT JOIN (
    SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
      ORDER BY i) AS emb
    FROM u$t GROUP BY cid) nc USING (cid))"""
    }.mkString(",\n")
    s"""$iterCtes,
fin AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${kmeansQdSql("e.emb", "c.emb")} ASC, c.cid ASC) AS r
    FROM e CROSS JOIN c$iters c) WHERE r = 1)"""
  }

  /** The deterministic FIXED-k k-means unroll (farthest-point seeds,
    * k−1 seed CTEs) ending in `fin(vec_id, cid)` — the
    * q_kmeans_assign oracle.
    */
  private def kmeansAssignCtes(k: Int, iters: Int): String = {
    val seedCtes = (1 until k).map { j =>
      s"""s$j AS MATERIALIZED (
  SELECT $j AS cid, any_value(e.emb) AS emb FROM e CROSS JOIN seeds$j s
  GROUP BY e.vec_id
  ORDER BY MIN(${kmeansQdSql("e.emb", "s.emb")}) DESC, e.vec_id ASC LIMIT 1),
seeds${j + 1} AS MATERIALIZED (SELECT * FROM seeds$j UNION ALL SELECT * FROM s$j)"""
    }.mkString(",\n")
    s"""$kmeansHeaderCtes,
s0 AS MATERIALIZED (SELECT 0 AS cid, emb FROM e ORDER BY vec_id LIMIT 1),
seeds1 AS MATERIALIZED (SELECT * FROM s0),
$seedCtes,
c0 AS MATERIALIZED (SELECT * FROM seeds$k),
${kmeansIterFinCtes(iters)}"""
  }

  /** The CORPUS-SIZED k-means unroll — k-AGNOSTIC TEXT, so one static
    * SQL string follows the data: `kk` derives k from COUNT(*) with
    * the exact [[graft.ext.Dedup.semDeDupK]] integer ladder, and `c0`
    * seeds with the k smallest md5-rank ids in rank order
    * ([[graft.ext.Embeddings]]'s `hashSpreadInit`/`kmeansSpread`).
    * Both engines therefore pick the identical rung AND the identical
    * seed set at every corpus size — the `adaptiveLshBitsSqlCase`
    * discipline applied to k-means. Ends in `fin(vec_id, cid)`.
    */
  private def kmeansSpreadCtes(iters: Int): String =
    s"""$kmeansHeaderCtes,
kk AS MATERIALIZED (
  SELECT LEAST(COUNT(*), GREATEST(8, (COUNT(*) + 255) // 256)) AS k
  FROM e),
c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cid, emb FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        vec_id) AS rn
    FROM e)
  WHERE rn <= (SELECT k FROM kk)),
${kmeansIterFinCtes(iters)}"""

  /** DuckDB oracle for q_dedup_embed_lsh: same bucket constants, same
    * equi-join + exact-cosine verification.
    */
  /** Deterministic-PCA oracle: reproduces
    * [[graft.ext.Embeddings.fitPcaDeterministic]] BIT-FOR-BIT in
    * DuckDB — exact-integer moments (qx = ⌊x·10⁷⌋), integer
    * covariance cells, then per component a fixed-budget recursive-CTE
    * power iteration whose only floating ops are on
    * exactly-representable integers (Σys² ≤ 64·10¹⁴ < 2⁵³) with
    * IEEE-correctly-rounded sqrt/÷ — identical doubles, identical
    * floors, identical model. `//` is trunc division, matching the
    * Scala side's BigInt/Long `/`.
    */
  private def pcaOracleSql(dim: Int, k: Int, iters: Int): String = {
    val d2 = dim * dim
    val v0 = (1 to dim).map(i => 1250000 + i).mkString("[", ", ", "]")
    // The power step is staged through nested derived tables so each
    // intermediate (y, s, ys, n2) is evaluated ONCE per iteration — a
    // naive textual inlining makes the engine re-evaluate the whole
    // M·v subtree per list element (O(d³) per step: observed minutes
    // instead of milliseconds). The s=0 (zero matrix) guard keeps the
    // dummy divisor 1 so the discarded ys can't divide by zero.
    val compCtes = (1 to k).map { c =>
      s"""it$c AS (
  SELECT 0 AS t, $v0::BIGINT[] AS v
  UNION ALL
  SELECT t + 1,
    CASE WHEN s = 0 THEN v ELSE
      list_transform(ys, a -> CAST(FLOOR((CAST(a AS DOUBLE) * 10000000e0)
        / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)) END
  FROM (
    SELECT t, v, s, ys,
      list_sum(list_transform(ys, a -> a * a)) AS n2
    FROM (
      SELECT t, v, s,
        list_transform(y, a -> (a * 10000000)
          // (CASE WHEN s = 0 THEN 1 ELSE s END)) AS ys
      FROM (
        SELECT t, v, y,
          list_max(list_transform(y, a -> abs(a))) AS s
        FROM (
          SELECT t, v,
            list_transform(range(0, $dim), i ->
              list_sum(list_transform(range(0, $dim), j ->
                m[i * $dim + j + 1] * v[j + 1]))) AS y
          FROM it$c, m$c WHERE t < $iters))))),
c${c}raw AS MATERIALIZED (SELECT v FROM it$c WHERE t = $iters),
c$c AS MATERIALIZED (
  SELECT CASE WHEN v[list_position(list_transform(v, a -> abs(a)),
      list_max(list_transform(v, a -> abs(a))))] < 0
    THEN list_transform(v, a -> -a) ELSE v END AS v
  FROM c${c}raw),
l$c AS MATERIALIZED (
  SELECT CAST(list_sum(list_transform(range(0, $d2), t ->
      m[t + 1]::HUGEINT * v[t // $dim + 1] * v[t % $dim + 1]))
    // 100000000000000 AS BIGINT) AS lam, v
  FROM c$c, m$c),
m${c + 1} AS MATERIALIZED (
  SELECT list_transform(range(0, $d2), t ->
    m[t + 1] - CAST((lam::HUGEINT * v[t // $dim + 1] * v[t % $dim + 1])
      // 100000000000000 AS BIGINT)) AS m
  FROM l$c, m$c)"""
    }.mkString(",\n")
    val pcCols = (1 to k).map { c =>
      s"""CAST(((list_sum(list_transform(range(1, ${dim + 1}), i ->
    qx[i] * w$c[i]))
    - list_sum(list_transform(range(1, ${dim + 1}), i ->
        mu[i] * w$c[i])))
    // 1000000) AS DOUBLE) / 100000000e0 AS pc$c"""
    }.mkString(",\n  ")
    val wJoins = (1 to k)
      .map(c => s"CROSS JOIN (SELECT v AS w$c FROM c$c) t$c").mkString("\n  ")
    s"""WITH RECURSIVE q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x ->
    CAST(FLOOR(CAST(x AS DOUBLE) * 10000000e0) AS BIGINT)) AS qx
  FROM embeddings),
cnt AS MATERIALIZED (SELECT COUNT(*) AS n FROM q),
svec AS MATERIALIZED (
  SELECT i, SUM(qx[i]) AS s
  FROM q CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY i),
mom AS MATERIALIZED (
  SELECT ti.i, tj.j, SUM(qx[ti.i] * qx[tj.j]) AS p
  FROM q CROSS JOIN range(1, ${dim + 1}) ti(i)
    CROSS JOIN range(1, ${dim + 1}) tj(j)
  WHERE tj.j >= ti.i GROUP BY ti.i, tj.j),
grid AS MATERIALIZED (
  SELECT gi.i, gj.j,
    CAST(((cnt.n::HUGEINT * mom.p - si.s::HUGEINT * sj.s) * 1000000)
      // (cnt.n::HUGEINT * (cnt.n - 1) * 100000000000000) AS BIGINT) AS mc
  FROM range(1, ${dim + 1}) gi(i) CROSS JOIN range(1, ${dim + 1}) gj(j)
  CROSS JOIN cnt
  JOIN mom ON mom.i = LEAST(gi.i, gj.j) AND mom.j = GREATEST(gi.i, gj.j)
  JOIN svec si ON si.i = gi.i JOIN svec sj ON sj.i = gj.j),
m1 AS MATERIALIZED (SELECT list(mc ORDER BY i, j) AS m FROM grid),
mu AS MATERIALIZED (
  SELECT list(CAST(s // n AS BIGINT) ORDER BY i) AS mu
  FROM svec CROSS JOIN cnt),
$compCtes
SELECT vec_id,
  $pcCols
FROM q CROSS JOIN mu
  $wJoins"""
  }

  private def embedLshOracleSql: String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)}
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
  ROUND(list_inner_product(a.emb, c.emb)
    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND(list_inner_product(a.emb, c.emb)
    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) >= 0.4"""
  }

  /** Incremental exact dedup contract, shared by the plain anti-join
    * (q_dedup_incremental) and the bloom-prefiltered plan
    * (q_dedup_bloom) — the driver gate proves them equivalent.
    */
  private val incrementalOracleSql: String =
    """WITH fp AS (
      |  SELECT doc_id, text, lang, source, n_chars, md5(text) AS fp
      |  FROM documents),
      |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0),
      |batch AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
      |surv AS (
      |  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
      |  FROM batch b LEFT JOIN hist h ON b.fp = h.fp
      |  WHERE h.fp IS NULL)
      |SELECT doc_id, text, lang, source, n_chars FROM surv WHERE rn = 1""".stripMargin

  /** DuckDB oracle for q_pagerank: the SAME fixed iterations unrolled
    * as CTEs — mirrored double shapes, decimal contribution sums.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH co AS (
        |  SELECT x.i AS item_a, y.i AS item_b
        |  FROM (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem) x
        |  JOIN (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem) y USING (b)
        |  WHERE x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (
        |  SELECT item_a AS src, item_b AS dst FROM co
        |  UNION ALL SELECT item_b, item_a FROM co),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |pr0 AS (
        |  SELECT node,
        |    CAST(FLOOR(1.0 / cnt.n * 1000000000000.0) AS DOUBLE)
        |      / 1000000000000.0 AS pr
        |  FROM nodes CROSS JOIN cnt)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node,
         |    SUM(CAST(FLOOR(p.pr / o.outdeg * 1000000000000.0) AS BIGINT)) AS s
         |  FROM edges e
         |  JOIN pr${k - 1} p ON e.src = p.node
         |  JOIN outd o ON e.src = o.src
         |  GROUP BY 1),
         |pr$k AS (
         |  SELECT n.node,
         |    CAST(FLOOR(((1e0 - 0.85) / cnt.n
         |        + 0.85 * (CAST(COALESCE(c.s, 0) AS DOUBLE) / 1000000000000.0))
         |      * 1000000000000.0) AS DOUBLE) / 1000000000000.0 AS pr
         |  FROM nodes n LEFT JOIN c$k c USING (node) CROSS JOIN cnt)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, pr FROM pr$iters"
  }

  def oracleSql: Map[String, String] = Map(

    "q_pagerank" -> pageRankOracleSql(3),

    "q_dedup_embed_lsh" -> embedLshOracleSql,

    "q_dedup_simhash" -> simHashOracleSql,

    "q_dedup_minhash" -> minHashOracleSql,

    // Engine-native xxhash64 paths, now fully oracled: XXH64 emulated
    // in exact HUGEINT arithmetic (see graft.XxSql) — the last two
    // rows-only queries become hash-checked.
    "q_dedup_minhash_fast" -> XxSql.minHashFastOracleSql(0.5),
    "q_dedup_simhash_fast" -> XxSql.simHashFastOracleSql(6),

    "q_dedup_incremental" -> incrementalOracleSql,

    // Different plan (bloom prefilter), same contract — the oracle IS
    // the plain incremental anti-join.
    "q_dedup_bloom" -> incrementalOracleSql,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |FROM reach GROUP BY s""".stripMargin,

    "q_rolling_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM c),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |      FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (
        |  SELECT t.event_type, h.hr, COALESCE(c.cnt, 0) AS cnt
        |  FROM t CROSS JOIN h
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr),
        |m AS (
        |  SELECT event_type, hr, cnt,
        |    COUNT(*) OVER w AS n, SUM(cnt) OVER w AS s1,
        |    SUM(cnt * cnt) OVER w AS s2
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, hr, cnt, CAST(n AS BIGINT) AS baseline_hours,
        |    CASE WHEN n >= 2 AND
        |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) > 0
        |      THEN ROUND((cnt - CAST(s1 AS DOUBLE) / n)
        |        / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
        |          / (n - 1)), 6)
        |    END AS z
        |  FROM m)
        |SELECT * FROM z WHERE ABS(z) > 3.0""".stripMargin,

    "q_lsh_curve" ->
      """WITH cfg(bands, rows_per_band) AS (VALUES (4, 4), (8, 2), (2, 8)),
        |g AS (SELECT i FROM generate_series(1, 19) AS t(i))
        |SELECT bands, rows_per_band,
        |  ROUND(i * (1.0 / 20), 6) AS s,
        |  ROUND(1.0 - pow(1.0 - pow(ROUND(i * (1.0 / 20), 6),
        |    CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)), 6)
        |    AS p_candidate
        |FROM cfg CROSS JOIN g""".stripMargin,

    "q_dup_share" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
        |  FROM toks),
        |e AS (SELECT doc_id, unnest(shingles) AS sh FROM t),
        |d AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY 1)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  ROUND(CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_share
        |FROM e JOIN d USING (sh) GROUP BY 1""".stripMargin,

    "q_cluster_sizes" ->
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |  FROM reach GROUP BY s),
         |sizes AS (
         |  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY 1""".stripMargin,

    "q_dedup_collapse" ->
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |  FROM reach GROUP BY s)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |WHERE c.id IS NULL OR c.cluster_rep = d.doc_id""".stripMargin,

    "q_sim_lsh" -> simLshOracleSql,

    "q_ann_recall" -> annRecallOracleSql,

    // Same recursive-CC chain as q_dedup_collapse; the survivor is
    // the (quality desc, id asc) argmax per entity.
    "q_dedup_collapse_best" ->
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM mh
        |  UNION SELECT id_b, id_a FROM mh),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
        |  FROM reach GROUP BY s),
        |keyed AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
        |    COALESCE(c.cluster_rep, d.doc_id) AS entity,
        |    COALESCE(CAST(7000 * LEAST(LEN(str_split(TRIM(text), ' ')), 100)
        |      + (600000 * LEN(list_filter(str_split(TRIM(text), ' '),
        |           t -> t IN ('the','a','an','of','and','to','in','is','on',
        |                      'for','with','at','by','from','as','it','that',
        |                      'this'))) + LEN(str_split(TRIM(text), ' ')))
        |        // (2 * LEN(str_split(TRIM(text), ' '))) AS BIGINT), -1)
        |      AS quality
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |win AS (
        |  SELECT entity, doc_id FROM (
        |    SELECT entity, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY entity
        |        ORDER BY quality DESC, doc_id ASC) AS r
        |    FROM keyed)
        |  WHERE r = 1)
        |SELECT k.doc_id, k.text, k.lang, k.source, k.n_chars, k.quality
        |FROM keyed k JOIN win w
        |  ON w.entity = k.entity AND w.doc_id = k.doc_id""".stripMargin,

    "q_mix_shift" ->
      """WITH m AS (
        |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
        |    AS mid FROM events),
        |p AS (
        |  SELECT event_type, COUNT(*) AS n_prev
        |  FROM events CROSS JOIN m
        |  WHERE epoch_us(ts) < mid AND event_type IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT event_type, COUNT(*) AS n_cur
        |  FROM events CROSS JOIN m
        |  WHERE epoch_us(ts) >= mid AND event_type IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(p.event_type, c.event_type) AS event_type,
        |    COALESCE(n_prev, 0) AS n_prev, COALESCE(n_cur, 0) AS n_cur
        |  FROM p FULL JOIN c ON p.event_type = c.event_type),
        |t AS (SELECT SUM(n_prev) AS tp, SUM(n_cur) AS tc FROM j)
        |SELECT event_type, CAST(n_prev AS BIGINT) AS n_prev,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(n_cur - n_prev AS BIGINT) AS delta,
        |  CAST((n_prev * 1000000) // tp AS BIGINT) AS share_prev_micro,
        |  CAST((n_cur * 1000000) // tc AS BIGINT) AS share_cur_micro,
        |  CAST((n_cur * 1000000) // tc - (n_prev * 1000000) // tp
        |    AS BIGINT) AS share_shift_micro
        |FROM j CROSS JOIN t""".stripMargin,

    // Pair table from the q_dedup_minhash chain + two label joins.
    "q_source_dup_matrix" ->
      s"""WITH mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
        |lab AS (SELECT doc_id, source FROM documents),
        |cells AS (
        |  SELECT LEAST(a.source, b.source) AS source_a,
        |    GREATEST(a.source, b.source) AS source_b
        |  FROM mh JOIN lab a ON a.doc_id = mh.id_a
        |    JOIN lab b ON b.doc_id = mh.id_b)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM cells GROUP BY 1, 2""".stripMargin,

    // Truth = the q_dedup_ngram exact-Jaccard chain; candidates = the
    // q_dedup_minhash chain filtered to the same pair universe.
    "q_dedup_eval" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, list_distinct(str_split(TRIM(LOWER(text)), ' '))
        |    AS toks
        |  FROM documents),
        |truthp AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t0 a JOIN t0 b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < 200
        |    AND CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(LEN(a.toks) + LEN(b.toks)
        |          - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.5),
        |candp AS (
        |  SELECT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
        |  FROM ($minHashOracleSql) mh WHERE id_a < 200),
        |tn AS (SELECT DISTINCT a, b, 1 AS t FROM truthp),
        |cn AS (SELECT DISTINCT a, b, 1 AS c FROM candp),
        |j AS (
        |  SELECT COALESCE(t, 0) AS t, COALESCE(c, 0) AS c
        |  FROM tn FULL JOIN cn USING (a, b))
        |SELECT CAST(SUM(t) AS BIGINT) AS n_truth,
        |  CAST(SUM(c) AS BIGINT) AS n_candidates,
        |  CAST(SUM(t * c) AS BIGINT) AS n_hits,
        |  CAST(CAST(SUM(t * c) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS precision,
        |  CAST(CAST(SUM(t * c) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) AS recall
        |FROM j""".stripMargin,

    // Per-gate UNION arms generated from the same gate list as the
    // query; counts are exact integers.
    "q_gate_ablation" -> gateAblationOracleSql,

    "q_mrl_recall" -> mrlRecallOracleSql,

    "q_join_plan" ->
      """WITH b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS build_rows FROM orders),
        |p0 AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |p AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS probe_rows,
        |    CAST(COUNT(*) AS BIGINT) AS probe_keys,
        |    CAST(MAX(c) AS BIGINT) AS probe_max_key_rows
        |  FROM p0)
        |SELECT build_rows, probe_rows, probe_keys, probe_max_key_rows,
        |  CASE WHEN build_rows <= 1000 THEN 'broadcast'
        |       WHEN probe_max_key_rows * probe_keys >= 16 * probe_rows
        |         THEN 'salted'
        |       ELSE 'shuffle' END AS strategy
        |FROM b CROSS JOIN p""".stripMargin,

    "q_ldiversity" ->
      """WITH c AS (
        |  SELECT c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 5e1) AS BIGINT) AS bal_band,
        |    c_nationkey, COUNT(*) AS cc
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT c_mktsegment, bal_band,
        |    CAST(SUM(cc) AS BIGINT) AS class_size,
        |    CAST(COUNT(*) AS BIGINT) AS n_sensitive_values
        |  FROM c GROUP BY 1, 2)
        |SELECT * FROM g WHERE n_sensitive_values < 10""".stripMargin,

    // Running product as exact integer prefix sums of floor-quantized
    // lnq factors; survival via the expq chain (PSI discipline applied
    // to a product).
    "q_kaplan_meier" ->
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CAST(CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE) AS BIGINT)
        |      AS duration,
        |    MAX(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hz AS (SELECT MAX(ts) AS h FROM events),
        |subj AS (
        |  SELECT duration,
        |    ((CAST(h AS DATE) - CAST(last_ts AS DATE)) > 3) AS observed
        |  FROM pu CROSS JOIN hz),
        |byt AS (
        |  SELECT duration,
        |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT *, n_events + n_censored AS dc,
        |    SUM(n_events + n_censored) OVER (ORDER BY duration) AS cum_dc,
        |    (SELECT SUM(n_events + n_censored) FROM byt) AS nn
        |  FROM byt),
        |t1 AS (
        |  SELECT duration, n_events, n_censored,
        |    CAST(nn - (cum_dc - dc) AS BIGINT) AS n_risk,
        |    CASE WHEN nn - (cum_dc - dc) = n_events THEN 1 ELSE 0 END
        |      AS zero
        |  FROM r),
        |t2 AS (
        |  SELECT duration, n_events, n_censored, n_risk, zero,
        |    GREATEST(CAST(n_risk - n_events AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE), 1e-300) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  CASE WHEN zero = 1 THEN 0 WHEN n_events = 0 THEN 0
        |    ELSE CAST(FLOOR(__lnx * 1e12) AS BIGINT) END AS tq
        |  FROM t1),
        |t3 AS (
        |  SELECT duration, n_events, n_censored, n_risk,
        |    SUM(tq) OVER (ORDER BY duration) AS cum_tq,
        |    SUM(zero) OVER (ORDER BY duration) AS cum_zero
        |  FROM t2),
        |t4 AS (
        |  SELECT duration, n_events, n_censored, n_risk, cum_zero,
        |    CAST(cum_tq AS DOUBLE) / 1e12 AS __sx,
        |  ${expSqlChain("__sx", "__ex")}
        |  FROM t3)
        |SELECT duration, n_risk, n_events, n_censored,
        |  CASE WHEN cum_zero > 0 THEN 0e0 ELSE __ex END AS survival
        |FROM t4""".stripMargin,

    // Per-day grid = (ref bins ∪ day bins); same eps/quantized-term
    // chain as the pair PSI oracle, grouped by day.
    "q_psi_daily" ->
      s"""WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, value FROM events
        |  WHERE value IS NOT NULL AND value BETWEEN 0e0 AND 2e2),
        |d0 AS (SELECT MIN(day) AS d0 FROM e),
        |r AS (
        |  SELECT CAST(FLOOR(value / 16e0) AS BIGINT) AS bin,
        |    COUNT(*) AS n_ref
        |  FROM e CROSS JOIN d0 WHERE day = d0 GROUP BY 1),
        |rt AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS nr FROM r),
        |c AS (
        |  SELECT day, CAST(FLOOR(value / 16e0) AS BIGINT) AS bin,
        |    COUNT(*) AS n_cur
        |  FROM e CROSS JOIN d0 WHERE day > d0 GROUP BY 1, 2),
        |ct AS (SELECT day, CAST(SUM(n_cur) AS BIGINT) AS nc
        |       FROM c GROUP BY 1),
        |gs AS (SELECT DISTINCT day FROM c),
        |grid AS (
        |  SELECT COALESCE(a.day, c.day) AS day,
        |    COALESCE(a.n_ref, 0) AS br, COALESCE(c.n_cur, 0) AS bc
        |  FROM (SELECT g.day, r.bin, r.n_ref FROM gs g CROSS JOIN r) a
        |  FULL JOIN c ON a.day = c.day AND a.bin = c.bin
        |  WHERE COALESCE(a.n_ref, 0) > 0 OR COALESCE(c.n_cur, 0) > 0),
        |lx AS (
        |  SELECT grid.day,
        |    (CASE WHEN bc = 0 THEN 1 ELSE bc END)
        |      * (CASE WHEN br = 0 THEN 1000000 ELSE rt.nr END) AS __ra,
        |    (CASE WHEN br = 0 THEN 1 ELSE br END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE ct.nc END) AS __rb,
        |    (CASE WHEN br = 0 THEN 1000000 ELSE rt.nr END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE ct.nc END) AS __m,
        |    GREATEST(__ra, __rb) AS __ga, LEAST(__ra, __rb) AS __gb,
        |    ABS(__ra - __rb) AS __d,
        |  ${lnRatioFpSql("__ga", "__gb", "__lnfp")}
        |  FROM grid JOIN ct USING (day) CROSS JOIN rt),
        |terms AS (
        |  SELECT day,
        |    (__d::HUGEINT * __lnfp) // (__m::HUGEINT * 1000000) AS term
        |  FROM lx)
        |SELECT t.day, CAST(SUM(t.term) AS DOUBLE) / 1e12 AS psi,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  (SELECT nr FROM rt) AS n_ref, ct.nc AS n_cur
        |FROM terms t JOIN ct ON ct.day = t.day
        |GROUP BY t.day, ct.nc""".stripMargin,

    // Same op tree as Behavior.welchTTest over decimal-exact moments.
    "q_welch_ttest" ->
      """WITH m AS (
        |  SELECT event_type AS variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))
        |      * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events
        |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        |    AND value BETWEEN 0e0 AND 2e2
        |  GROUP BY 1),
        |a AS (SELECT variant AS variant_a, n AS n_a, s1 AS s1a, s2 AS s2a
        |      FROM m ORDER BY variant LIMIT 1),
        |b AS (SELECT variant AS variant_b, n AS n_b, s1 AS s1b, s2 AS s2b
        |      FROM (SELECT * FROM m ORDER BY variant LIMIT 2)
        |      ORDER BY variant DESC LIMIT 1),
        |c AS (
        |  SELECT variant_a, variant_b, n_a, n_b,
        |    ((s2a - s1a * s1a / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - 1e0)) / CAST(n_a AS DOUBLE) AS va,
        |    ((s2b - s1b * s1b / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - 1e0)) / CAST(n_b AS DOUBLE) AS vb,
        |    s1a / CAST(n_a AS DOUBLE) AS ma,
        |    s1b / CAST(n_b AS DOUBLE) AS mb
        |  FROM a CROSS JOIN b)
        |SELECT variant_a, variant_b, n_a, n_b,
        |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |  ROUND((ma - mb) / sqrt(va + vb), 6) AS t_stat,
        |  ROUND((va + vb) * (va + vb)
        |    / (va * va / (CAST(n_a AS DOUBLE) - 1e0)
        |      + vb * vb / (CAST(n_b AS DOUBLE) - 1e0)), 6) AS df_welch
        |FROM c""".stripMargin,

    "q_join_cardinality" ->
      """WITH ca AS (
        |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |cb AS (
        |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |p AS (
        |  SELECT ca.k, ca.ca * cb.cb AS prod
        |  FROM ca JOIN cb USING (k))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
        |  CAST(SUM(prod) AS BIGINT) AS join_rows,
        |  (SELECT CAST(prod AS BIGINT) FROM p
        |   ORDER BY prod DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |    AS max_key_rows,
        |  (SELECT CAST(k AS VARCHAR) FROM p
        |   ORDER BY prod DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |    AS max_key
        |FROM p""".stripMargin,

    "q_sample_exact_k" ->
      """SELECT doc_id, source, n_chars,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS sample_hash
        |FROM documents
        |ORDER BY sample_hash ASC, doc_id ASC
        |LIMIT 100""".stripMargin,

    // LSH retrieval over ALL queries (the q_sim_lsh chain without the
    // query filter) -> per-vector in-degree -> k-occurrence histogram.
    "q_ann_hubness" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${adaptiveLshBucketedCte(dim = 64)},
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(q.emb, c.emb)
      / (sqrt(list_inner_product(q.emb, q.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id),
t AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
    FROM p)
  WHERE rnk <= 10),
deg AS (
  SELECT e.vec_id, CAST(COUNT(t.query_id) AS BIGINT) AS in_degree
  FROM e LEFT JOIN t ON t.neighbor_id = e.vec_id GROUP BY 1)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM deg GROUP BY 1"""
    },

    "q_sim_ivf" -> simIvfOracleSql,

    "q_kmeans_assign" -> kmeansOracleSql,

    "q_bpe_merges" -> bpeOracleSql(6),

    "q_bpe_encode" -> bpeEncodeOracleSql(6),

    // Corpus-sized unrolled kmeans chain (k from COUNT(*), md5-rank
    // seeds — k-agnostic text so the same SQL follows the data);
    // then within-cluster lower-id pairs with the repo-standard
    // ROUND(cosine, 6).
    "q_semdedup" ->
      s"""WITH ${kmeansSpreadCtes(3)},
        |p AS (
        |  SELECT a.vec_id AS ida,
        |    ROUND(list_inner_product(ea.emb, eb.emb)
        |      / (sqrt(list_inner_product(ea.emb, ea.emb))
        |         * sqrt(list_inner_product(eb.emb, eb.emb))), 6) AS c
        |  FROM fin a JOIN fin b ON a.cid = b.cid AND b.vec_id < a.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |m AS (SELECT ida, MAX(c) AS max_prior_sim FROM p GROUP BY ida)
        |SELECT f.vec_id, f.cid AS cluster, m.max_prior_sim,
        |  (m.max_prior_sim IS NULL OR m.max_prior_sim < 0.4) AS kept
        |FROM fin f LEFT JOIN m ON m.ida = f.vec_id""".stripMargin,

    "q_pca_project" -> pcaOracleSql(dim = 64, k = 3,
      iters = graft.ext.Embeddings.DetIters),

    "q_scan_cast" ->
      """SELECT event_id,
        |  TRY_CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts_cast,
        |  TRY_CAST(CASE WHEN user_id % 10 = 0 THEN 'N/A' ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS value_cast
        |FROM events""".stripMargin,

    "q_rename_project" ->
      "SELECT event_id, ts AS event_time, user_id AS sensor_id, value AS reading FROM events",

    "q_roundrobin_tag" ->
      """SELECT event_id,
        |  CASE CAST((ROW_NUMBER() OVER (ORDER BY event_id) - 1) % 3 AS INT)
        |    WHEN 0 THEN 'Kaggle_Weather_01'
        |    WHEN 1 THEN 'Kaggle_Weather_02'
        |    ELSE 'Kaggle_Weather_03' END AS sensor_id
        |FROM events""".stripMargin,

    "q_ts_parse_format" ->
      "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_fmt FROM events",

    "q_validate_filter" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND value BETWEEN 0.0 AND 200.0""".stripMargin,

    "q_invalid_rows" ->
      """WITH n AS (
        |  SELECT event_id, value, ROW_NUMBER() OVER (ORDER BY event_id) + 1 AS line_no
        |  FROM events)
        |SELECT event_id, line_no,
        |  CASE WHEN value IS NULL THEN 'Row ' || line_no || ': ''value'' is null.'
        |       ELSE 'Row ' || line_no || ': ''value'' (' || printf('%.2f', ROUND(value, 2))
        |            || ') out of range [0.0, 200.0].' END AS row_errors
        |FROM n
        |WHERE value IS NULL OR value < 0.0 OR value > 200.0""".stripMargin,

    "q_strict_file_flag" ->
      """WITH n AS (
        |  SELECT event_type, value, ROW_NUMBER() OVER (ORDER BY event_id) + 1 AS line_no
        |  FROM events),
        |i AS (
        |  SELECT *, (value IS NULL OR value < 0.0 OR value > 200.0) AS bad,
        |    CASE WHEN value IS NULL THEN 'Row ' || line_no || ': ''value'' is null.'
        |         WHEN value < 0.0 OR value > 200.0
        |           THEN 'Row ' || line_no || ': ''value'' (' || printf('%.2f', ROUND(value, 2))
        |                || ') out of range [0.0, 200.0].' END AS err
        |  FROM n),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN bad THEN 1 END) AS n_invalid,
        |    MIN(CASE WHEN bad THEN line_no END) AS first_bad_row
        |  FROM i GROUP BY event_type)
        |SELECT g.event_type, g.n_rows, g.n_invalid, g.first_bad_row,
        |  CASE WHEN g.first_bad_row IS NULL THEN NULL
        |       ELSE 'Validation failed at row ' || g.first_bad_row || ': ' || i2.err
        |  END AS first_error,
        |  (g.n_invalid = 0) AS is_clean
        |FROM g LEFT JOIN i i2
        |  ON i2.event_type = g.event_type AND i2.line_no = g.first_bad_row""".stripMargin,

    "q_route_valid_groups" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE (user_id, event_type) IN (
        |  SELECT (user_id, event_type) FROM events GROUP BY user_id, event_type
        |  HAVING COUNT(CASE WHEN value IS NULL OR value < 0.0 OR value > 200.0 THEN 1 END) = 0)""".stripMargin,

    "q_dropna" ->
      """SELECT * FROM (
        |  SELECT event_id,
        |    CASE WHEN user_id % 10 <> 0 THEN user_id END AS user_id_n,
        |    CASE WHEN value <= 200.0 THEN value END AS value_n
        |  FROM events)
        |WHERE user_id_n IS NOT NULL AND value_n IS NOT NULL""".stripMargin,

    "q_agg_metrics" ->
      """SELECT user_id, MIN(ts) AS aggregation_time, 'value' AS metric_name,
        |  MIN(value) AS min_value, MAX(value) AS max_value,
        |  ROUND(AVG(value), 6) AS avg_value,
        |  ROUND(COALESCE(STDDEV_SAMP(value), 0), 6) AS std_dev_value,
        |  COUNT(value) AS record_count
        |FROM events GROUP BY user_id HAVING COUNT(value) > 0""".stripMargin,

    "q_unpivot_agg" ->
      """WITH w AS (
        |  SELECT l_returnflag, MIN(l_shipdate) AS aggregation_time,
        |    MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
        |    ROUND(AVG(l_quantity), 6) AS q_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_quantity), 0), 6) AS q_std,
        |    COUNT(l_quantity) AS q_cnt,
        |    MIN(l_extendedprice) AS e_min, MAX(l_extendedprice) AS e_max,
        |    ROUND(AVG(l_extendedprice), 6) AS e_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_extendedprice), 0), 6) AS e_std,
        |    COUNT(l_extendedprice) AS e_cnt,
        |    MIN(l_discount) AS d_min, MAX(l_discount) AS d_max,
        |    ROUND(AVG(l_discount), 6) AS d_avg,
        |    ROUND(COALESCE(STDDEV_SAMP(l_discount), 0), 6) AS d_std,
        |    COUNT(l_discount) AS d_cnt
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, aggregation_time, 'l_quantity' AS metric_name,
        |  q_min AS min_value, q_max AS max_value, q_avg AS avg_value,
        |  q_std AS std_dev_value, q_cnt AS record_count FROM w WHERE q_cnt > 0
        |UNION ALL
        |SELECT l_returnflag, aggregation_time, 'l_extendedprice',
        |  e_min, e_max, e_avg, e_std, e_cnt FROM w WHERE e_cnt > 0
        |UNION ALL
        |SELECT l_returnflag, aggregation_time, 'l_discount',
        |  d_min, d_max, d_avg, d_std, d_cnt FROM w WHERE d_cnt > 0""".stripMargin,

    "q_empty_check" ->
      """SELECT e.event_type, COALESCE(c.n_rows, 0) AS n_rows,
        |  (COALESCE(c.n_rows, 0) = 0) AS is_empty
        |FROM (VALUES ('click'),('error'),('heartbeat'),('purchase'),('signup'),('view')) e(event_type)
        |LEFT JOIN (SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY event_type) c
        |  ON e.event_type = c.event_type""".stripMargin,

    "q_upsert_latest" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

    "q_chunk_split" ->
      """SELECT event_id,
        |  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) / 1000) AS BIGINT) AS chunk_id
        |FROM events""".stripMargin,

    "q_dedup_exact" ->
      "SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text",

    "q_text_stats" ->
      """SELECT doc_id, lang,
        |  LENGTH(text) AS n_chars_calc,
        |  LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |  LEN(list_distinct(str_split(TRIM(text), ' '))) AS n_unique_tokens,
        |  LEN(regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish_tokens
        |FROM documents""".stripMargin,

    "q_json_extract" ->
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events",

    "q_window_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id, lang,
        |  CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |    t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |    / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) AS stop_ratio,
        |  CASE WHEN CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |    t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |    / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) >= 0.05
        |    THEN 'en' ELSE 'unk' END AS predicted_lang
        |FROM documents""".stripMargin,

    "q_quality_score" ->
      s"""SELECT doc_id,
        |  LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |  $qualitySqlExpr AS quality
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        |  md5(array_to_string(list_sort(list_distinct(str_split(LOWER(TRIM(text)), ' '))), ' ')) AS norm_fp
        |FROM documents""".stripMargin,

    "q_curate" ->
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |    LEN(str_split(TRIM(text), ' ')) AS n_tokens,
        |    $qualitySqlExpr AS quality,
        |    CAST(LEN(list_filter(str_split(TRIM(text), ' '),
        |      t -> t IN ${stopwordSqlList})) AS DOUBLE)
        |      / CAST(LEN(str_split(TRIM(text), ' ')) AS DOUBLE) AS stop_ratio
        |  FROM documents)
        |SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens,
        |  MIN(quality) AS quality, COUNT(*) AS n_copies
        |FROM s
        |WHERE stop_ratio >= 0.05 AND quality >= 0.3
        |GROUP BY text""".stripMargin,

    // Winnowing: same positional 3-gram, same 60-bit md5 hash, same
    // window-minimum selection over w=4 full windows.
    "q_fingerprint_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(TRIM(LOWER(text)), ' ') AS tk FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> {'pos': i, 'gram': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]})) AS s
        |  FROM t),
        |g AS (
        |  SELECT doc_id, s.pos AS pos,
        |    ('0x' || substr(md5(s.gram), 1, 15))::BIGINT AS h
        |  FROM g0),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS r,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM wmin WHERE r <= GREATEST(1, m - 3)""".stripMargin,

    "q_sim_topk" -> simTopkOracleSql,

    "q_dedup_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(str_split(TRIM(LOWER(text)), ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 200
        |  AND CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.5""".stripMargin,

    // Repeated-span oracle: same k-gram index over gram STRINGS (the
    // Spark side shuffles md5 prefixes of the same grams), same
    // gaps-and-islands merge with break at pos > prev_pos + k.
    "q_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
        |  WHERE len(t) >= 8),
        |rep AS (
        |  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
        |  GROUP BY gram HAVING COUNT(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
        |      THEN 1 ELSE 0 END AS b
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (
        |  SELECT doc_id, pos, SUM(b) OVER (
        |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
        |  FROM brk)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, span""".stripMargin,

    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_inner_product(a.emb, b.emb)
        |    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200
        |  AND ROUND(list_inner_product(a.emb, b.emb)
        |    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.4""".stripMargin,

    "q_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM o)
        |SELECT user_id, session_id, MIN(ts) AS session_start,
        |  MAX(ts) AS session_end, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q_join_enrich" ->
      """SELECT e.event_id, e.event_type, e.value, c.c_name, c.c_mktsegment, n.n_name
        |FROM events e
        |LEFT JOIN customer c ON e.user_id = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,

    "q_window_sliding" ->
      """WITH k AS (SELECT UNNEST([0, 1, 2, 3]) AS kk),
        |w AS (
        |  SELECT e.event_type, e.value,
        |    make_timestamp(((epoch_us(e.ts) // 900000000) - k.kk) * 900000000)
        |      AS window_start
        |  FROM events e CROSS JOIN k)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2, 3""".stripMargin,

    "q_revenue_monthly" ->
      """SELECT date_trunc('month', o.o_orderdate) AS order_month,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
        |    * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o.o_orderkey) AS n_orders
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q_topk_users" ->
      """SELECT user_id, ROUND(SUM(value), 4) AS total_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id ASC LIMIT 10""".stripMargin,

    "q_distinct_users" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    // Grouped histogram-quantile mirror of q_quantile_hist: per-group
    // prefix sum over the bounded bin table; rank and interpolation
    // are double ops on exact integer counts, FLOOR-quantized.
    "q_quantiles" ->
      """WITH b AS (
        |  SELECT event_type, CAST(FLOOR(value / 32.0) AS BIGINT) AS bin,
        |    COUNT(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM b),
        |t AS (SELECT event_type, SUM(cnt) AS n FROM b GROUP BY 1),
        |q AS (SELECT label, CAST(p AS DOUBLE) AS p
        |      FROM (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99))
        |        AS v(label, p))
        |SELECT c.event_type, q.label, c.bin,
        |  FLOOR((CAST(c.bin AS DOUBLE) * 32.0 + 32.0 *
        |    ((q.p * (t.n - 1) - (c.cum - c.cnt)) / c.cnt)) * 1e6) / 1e6
        |    AS est
        |FROM c JOIN t USING (event_type) CROSS JOIN q
        |WHERE (c.cum - c.cnt) <= q.p * (t.n - 1)
        |  AND q.p * (t.n - 1) < c.cum""".stripMargin,

    // Histogram-quantile mirror: window prefix sum stands in for
    // plans/Prefix; rank and interpolation are double ops on exact
    // integer counts, FLOOR-quantized. p cast to DOUBLE (the VALUES
    // literal is DECIMAL) so r = p*(n-1) is the identical IEEE product.
    "q_quantile_hist" ->
      """WITH b AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM b),
        |t AS (SELECT SUM(cnt) AS n FROM b),
        |q AS (SELECT label, CAST(p AS DOUBLE) AS p
        |      FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))
        |        AS v(label, p))
        |SELECT q.label, c.bin,
        |  FLOOR((CAST(c.bin AS DOUBLE) * 32.0 + 32.0 *
        |    ((q.p * (t.n - 1) - (c.cum - c.cnt)) / c.cnt)) * 1e6) / 1e6
        |    AS est
        |FROM c CROSS JOIN t CROSS JOIN q
        |WHERE (c.cum - c.cnt) <= q.p * (t.n - 1)
        |  AND q.p * (t.n - 1) < c.cum""".stripMargin,

    "q_text_scrub" ->
      """SELECT doc_id,
        |  TRIM(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ \t\r\n]+', '<URL>', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin,

    // Sizes from the byte layouts the codec writes: BMP24 = 54-byte
    // header + height × (3·width padded to 4); PCM16 WAV = 44-byte
    // header + 2 bytes/sample. Dims/channels from the synthesis
    // formulas — the Spark side must round-trip them through real
    // encode + detect + header parse to match.
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 54 + ((3 * (8 + doc_id % 9) + 3) // 4) * 4 * (5 + doc_id % 7)
        |    ELSE 44 + 2 * (200 + doc_id % 100) END AS BIGINT) AS size_bytes,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 9 ELSE 0 END
        |    AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 5 + doc_id % 7 ELSE 0 END
        |    AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels
        |FROM documents""".stripMargin,

    // Dimensions are 1-based in both engines; embeddings are 64-dim.
    "q_embed_centroids" ->
      """SELECT e.label, CAST(g.g AS INT) AS dim,
        |  ROUND(CAST(SUM(CAST(CAST(e.embedding[g.g] AS DOUBLE) AS DECIMAL(28,12)))
        |    AS DOUBLE) / COUNT(*), 6) AS centroid,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM embeddings e
        |CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS g) g
        |GROUP BY 1, 2""".stripMargin,

    // The oracle predicts the parsed fields from the synthesis
    // formulas (doc_id % 4 cycles bmp/wav/png/jpeg); the Spark side
    // must round-trip them through REAL byte encode + parse to match.
    // Sampled-frame channel sums from the per-frame pixel formula
    // (4×3 frames, stride 2) — proves container walk + frame decode.
    "q_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
        |fr AS (
        |  SELECT doc_id, u.f AS frame_idx
        |  FROM d, unnest(range(0, nf)) AS u(f)
        |  WHERE u.f % 2 = 0),
        |px AS (
        |  SELECT doc_id, frame_idx, c.c AS chan,
        |    (doc_id * 7 + frame_idx * 11 + x.x * 13 + y.y * 31 + c.c * 5)
        |      % 256 AS val
        |  FROM fr, unnest(range(0, 4)) x(x), unnest(range(0, 3)) y(y),
        |    unnest(range(0, 3)) c(c))
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(SUM(CASE WHEN chan = 0 THEN val ELSE 0 END) AS BIGINT)
        |    AS b_sum,
        |  CAST(SUM(CASE WHEN chan = 1 THEN val ELSE 0 END) AS BIGINT)
        |    AS g_sum,
        |  CAST(SUM(CASE WHEN chan = 2 THEN val ELSE 0 END) AS BIGINT)
        |    AS r_sum
        |FROM px GROUP BY 1, 2""".stripMargin,

    // Resized-image stats from the pixel GENERATOR formulas evaluated
    // at the nearest-neighbor source coordinates — doc_id % 5 picks
    // the format: 1 the JPEG flat-block formula (each 8×8 block
    // constant, channel-independent, identity quant → the real
    // Huffman bitstream decodes bit-exactly); 3 the GIF
    // palette-compose formula (palette entry (x·3 + y·5) % 64, each
    // entry the BGR channel formula — LZW is palette-lossless);
    // otherwise the BMP/PNG/WebP pixel formula (PNG and VP8L are
    // lossless: the real entropy bitstreams round-trip the exact
    // bytes). Proves decode of all FIVE formats and the resize math
    // exact.
    "q_image_resize" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, c.c AS chan,
        |    CASE WHEN doc_id % 5 = 1 THEN
        |      (doc_id * 11 + (((u.x * w) // 5) // 8) * 7
        |        + (((v.y * h) // 3) // 8) * 13) % 256
        |    WHEN doc_id % 5 = 3 THEN
        |      (doc_id * 7
        |        + ((((u.x * w) // 5) * 3 + ((v.y * h) // 3) * 5) % 64) * 13
        |        + c.c * 5) % 256
        |    ELSE
        |      (doc_id * 7 + ((u.x * w) // 5) * 13
        |        + ((v.y * h) // 3) * 31 + c.c * 5) % 256
        |    END AS val
        |  FROM d, unnest(range(0, 5)) u(x), unnest(range(0, 3)) v(y),
        |    unnest(range(0, 3)) c(c)),
        |g AS (
        |  SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
        |    CAST(MAX(h) AS BIGINT) AS height,
        |    CAST(SUM(CASE WHEN chan = 0 THEN val ELSE 0 END) AS BIGINT)
        |      AS b_sum,
        |    CAST(SUM(CASE WHEN chan = 1 THEN val ELSE 0 END) AS BIGINT)
        |      AS g_sum,
        |    CAST(SUM(CASE WHEN chan = 2 THEN val ELSE 0 END) AS BIGINT)
        |      AS r_sum,
        |    CAST(MIN(val) AS BIGINT) AS px_min,
        |    CAST(MAX(val) AS BIGINT) AS px_max
        |  FROM px GROUP BY 1)
        |SELECT doc_id, width, height, b_sum, g_sum, r_sum, px_min, px_max
        |FROM g""".stripMargin,

    // Moments from the waveform GENERATOR formula — not the bytes —
    // so the hash proves the byte decode exact. doc_id % 3 picks the
    // encoding: 0 raw PCM16; 1 μ-law and 2 A-law, where the oracle
    // expands the 8-bit code formula through the closed-form ITU-T
    // G.711 tables (complement/xor-0x55, segment shift, bias).
    "q_audio_energy" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    (doc_id * 31 + u.i * 17) % 65536 AS raw16,
        |    (doc_id * 31 + u.i * 17) % 256 AS code
        |  FROM d, unnest(range(0, 200 + doc_id % 100)) AS u(i)),
        |s AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |    WHEN 0 THEN raw16 - 32768
        |    WHEN 1 THEN (CASE WHEN (255 - code) >= 128 THEN 132 -
        |        (((255 - code) % 16) * 8 + 132)
        |          * (1 << (((255 - code) // 16) % 8))
        |      ELSE (((255 - code) % 16) * 8 + 132)
        |          * (1 << (((255 - code) // 16) % 8)) - 132 END)
        |    ELSE (CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE (xor(code, 85) // 16) % 8
        |       WHEN 0 THEN (xor(code, 85) % 16) * 16 + 8
        |       ELSE ((xor(code, 85) % 16) * 16 + 264)
        |         * (1 << ((xor(code, 85) // 16) % 8 - 1)) END)
        |    END AS v
        |  FROM c),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        |    CAST(SUM(v * v) AS BIGINT) AS sum_sq
        |  FROM s GROUP BY 1)
        |SELECT doc_id, n_samples, peak, sum_sq,
        |  CAST(FLOOR(sqrt(CAST(sum_sq AS DOUBLE)
        |    / CAST(n_samples AS DOUBLE)) * 1e6) AS BIGINT) AS rms_q
        |FROM g""".stripMargin,

    "q_media_headers" ->
      """SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
        |    WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'gif'
        |    ELSE 'webp' END AS format,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN n_chars % 640 + 1
        |    WHEN 2 THEN n_chars % 512 + 1
        |    WHEN 3 THEN n_chars % 320 + 1
        |    WHEN 4 THEN n_chars % 256 + 1
        |    WHEN 5 THEN n_chars % 1024 + 1 END AS INT) AS width,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN (n_chars * 31) % 480 + 1
        |    WHEN 2 THEN (n_chars * 17) % 384 + 1
        |    WHEN 3 THEN (n_chars * 13) % 240 + 1
        |    WHEN 4 THEN (n_chars * 7) % 200 + 1
        |    WHEN 5 THEN (n_chars * 11) % 768 + 1 END AS INT) AS height,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN 24
        |    WHEN 2 THEN 8 * (CASE n_chars % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)
        |    WHEN 3 THEN 8 * (CASE WHEN n_chars % 2 = 0 THEN 3 ELSE 1 END)
        |    WHEN 4 THEN n_chars % 8 + 1
        |    END AS INT) AS bits_per_pixel,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN n_chars % 2 + 1 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN 8000 + (n_chars % 8) * 1000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN 16 END AS INT) AS bits_per_sample
        |FROM documents""".stripMargin,

    // Portable hash gate: same md5-prefix-60 integer as Md5Prefix60.
    "q_sample_stratified" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |  < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'es' THEN 20 ELSE 10 END""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  CASE
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |      THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |      THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents""".stripMargin,

    // Mirrored √n chain: every step is an exact-integer-input
    // correctly-rounded double op + FLOOR, so the rates are
    // bit-identical cross-engine.
    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |      FROM c),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM w),
        |r AS (SELECT source,
        |        LEAST(1000000, CAST(FLOOR(
        |          FLOOR(200e0 * (CAST(w AS DOUBLE) / CAST(tot AS DOUBLE)))
        |            * 1e6 / CAST(n AS DOUBLE)) AS BIGINT)) AS keep_rate_micro
        |      FROM w CROSS JOIN tw)
        |SELECT d.source, d.doc_id, d.text, d.lang, d.n_chars,
        |       r.keep_rate_micro
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < r.keep_rate_micro""".stripMargin,

    "q_token_budget" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS n_tokens,
        |    $qualitySqlExpr AS quality
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens, quality,
        |    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, source, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 10000""".stripMargin,

    "q_curriculum" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, $qualitySqlExpr AS quality FROM documents),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS stratum_rank
        |  FROM d)
        |SELECT doc_id, source, quality, stratum_rank,
        |  CAST(ROW_NUMBER() OVER (ORDER BY stratum_rank, source, doc_id)
        |    AS BIGINT) AS curriculum_pos
        |FROM r""".stripMargin,

    // Exact-integer covariance-diagonal at 1e6 scale; HUGEINT sums,
    // trunc division (num >= 0, so trunc == floor).
    "q_embed_health" ->
      """WITH e AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(FLOOR(x * 1e7) AS BIGINT)) AS qe FROM embeddings),
        |x AS (
        |  SELECT CAST(i - 1 AS INT) AS dim, qe[i] AS qx
        |  FROM e, unnest(range(1, 65)) t(i)),
        |m AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(qx) AS s,
        |    SUM(qx * qx) AS p, MIN(qx) AS qmin, MAX(qx) AS qmax
        |  FROM x GROUP BY 1)
        |SELECT dim, n,
        |  CAST((n * p - s * s) // (n * (n - 1) * 100000000) AS BIGINT)
        |    AS var_q6,
        |  qmin, qmax
        |FROM m""".stripMargin,

    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |dims AS (SELECT UNNEST(range(1, 65)) AS i),
        |mn AS (
        |  SELECT d.i, MIN(e.emb[d.i]) AS mn, MAX(e.emb[d.i]) AS mx
        |  FROM e CROSS JOIN dims d GROUP BY d.i),
        |codes AS (
        |  SELECT e.vec_id,
        |    CASE WHEN m.mx = m.mn THEN 0
        |      ELSE LEAST(255, CAST(FLOOR((e.emb[m.i] - m.mn) * 255e0
        |        / (m.mx - m.mn)) AS BIGINT)) END AS code
        |  FROM e CROSS JOIN mn m)
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |  CAST(MIN(code) AS BIGINT) AS code_min,
        |  CAST(MAX(code) AS BIGINT) AS code_max
        |FROM codes GROUP BY 1""".stripMargin,

    // Hamilton apportionment in HUGEINT: floor quotas via //, exact
    // fractional parts via %, +1 to the largest remainders.
    "q_mix_plan" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS weight_q
        |  FROM tok),
        |tw AS (SELECT SUM(weight_q) AS tot FROM w),
        |s AS (
        |  SELECT source, n_tokens, weight_q,
        |    (20000 * weight_q) // tot AS base,
        |    (20000 * weight_q) % tot AS frac
        |  FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s)
        |SELECT source, n_tokens, weight_q,
        |  CAST(base + CASE WHEN rk <= 20000 - (SELECT used FROM u)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin,

    // Water-filling: capped set = prefix of the cap/weight order
    // (ROWS frame), exact HUGEINT membership test, residual through
    // the Hamilton chain; capped rows union back with alloc = cap.
    "q_mix_capped" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS weight_q
        |  FROM tok),
        |tot AS (SELECT CAST(SUM(weight_q) AS HUGEINT) AS tw FROM s),
        |o AS (
        |  SELECT source, n_tokens, weight_q,
        |    CAST(SUM(n_tokens) OVER win AS HUGEINT) - n_tokens
        |      AS cumcap_prev,
        |    CAST(SUM(weight_q) OVER win AS HUGEINT) - weight_q
        |      AS cumw_prev
        |  FROM s
        |  WINDOW win AS (
        |    ORDER BY CAST(n_tokens AS DOUBLE) / CAST(weight_q AS DOUBLE),
        |      source ROWS UNBOUNDED PRECEDING)),
        |f AS (
        |  SELECT o.*,
        |    ((25000 - cumcap_prev) * weight_q >=
        |      CAST(n_tokens AS HUGEINT) * (tw - cumw_prev)) AS capped
        |  FROM o CROSS JOIN tot),
        |cappedrows AS (
        |  SELECT source, weight_q, n_tokens, capped,
        |    CAST(n_tokens AS BIGINT) AS alloc
        |  FROM f WHERE capped),
        |res AS (
        |  SELECT 25000 - COALESCE(SUM(alloc), 0) AS rt FROM cappedrows),
        |u AS (SELECT source, weight_q, n_tokens, capped
        |      FROM f WHERE NOT capped),
        |utw AS (SELECT CAST(SUM(weight_q) AS HUGEINT) AS t FROM u),
        |s2 AS (
        |  SELECT u.*,
        |    ((SELECT rt FROM res) * weight_q) // t AS base,
        |    ((SELECT rt FROM res) * weight_q) % t AS frac
        |  FROM u CROSS JOIN utw),
        |us AS (SELECT SUM(base) AS used FROM s2),
        |r2 AS (SELECT s2.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |         AS rk FROM s2)
        |SELECT source, weight_q, n_tokens, capped,
        |  CAST(base + CASE WHEN rk <= (SELECT rt FROM res)
        |    - (SELECT used FROM us) THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r2
        |UNION ALL
        |SELECT source, weight_q, n_tokens, capped, alloc
        |FROM cappedrows""".stripMargin,

    // n^(1/3) via the mirrored lnq->scale->expq chain, then the
    // Hamilton apportionment in HUGEINT (the q_mix_plan chain).
    "q_mix_temp_general" ->
      s"""WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  __lnx * (1e0 / 3e0) AS __y,
        |  ${expSqlChain("__y", "__ey")},
        |  CAST(FLOOR(__ey * 1e6) AS BIGINT) AS weight_q
        |  FROM tok),
        |tw AS (SELECT SUM(weight_q) AS tot FROM w),
        |s AS (
        |  SELECT source, n_tokens, weight_q,
        |    (20000 * weight_q) // tot AS base, (20000 * weight_q) % tot AS frac
        |  FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s)
        |SELECT source, n_tokens, weight_q,
        |  CAST(base + CASE WHEN rk <= 20000 - (SELECT used FROM u)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin,

    // Per-bucket log-ratio via ONE deterministic-ln chain on an exact
    // integer ratio; per-doc weights are exact integer sums.
    "q_dsir" ->
      s"""WITH toks AS (
        |  SELECT doc_id, (source IN ('src0', 'src1', 'src2')) AS tgt,
        |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id, source,
        |          unnest(str_split(trim(lower(text)), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)),
        |bc AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |          CAST(SUM(cr) AS BIGINT) AS tr FROM bc),
        |lam AS (
        |  SELECT bucket,
        |    (CAST(ct + 1 AS DOUBLE) * CAST(tr + 64 AS DOUBLE))
        |      / (CAST(tt + 64 AS DOUBLE) * CAST(cr + 1 AS DOUBLE)) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |    CAST(FLOOR(__lnx * 1e9) AS BIGINT) AS lambda_q
        |  FROM bc CROSS JOIN tot)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(l.lambda_q) AS BIGINT) AS weight_q,
        |  CAST(CAST(SUM(l.lambda_q) AS BIGINT) AS DOUBLE) / 1e9 AS weight
        |FROM toks t JOIN lam l USING (bucket)
        |GROUP BY 1""".stripMargin,

    // Same recursive-CC chain as q_dedup_clusters; the split hash runs
    // on the component rep (own id for unpaired docs).
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
         |  FROM reach GROUP BY s),
         |keyed AS (
         |  SELECT doc.doc_id, doc.text, doc.lang, doc.source, doc.n_chars,
         |    CAST(COALESCE(c.cluster_rep, doc.doc_id) AS BIGINT) AS split_key
         |  FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id)
         |SELECT doc_id, text, lang, source, n_chars, split_key,
         |  CASE
         |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
         |      THEN 'train'
         |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |      THEN 'val'
         |    ELSE 'test'
         |  END AS split
         |FROM keyed""".stripMargin,

    "q_quota_cap" ->
      """SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS n_chars, rank FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM documents) WHERE rank <= 50""".stripMargin,

    "q_contamination" ->
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 4),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
        |  FROM tk),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM corp) c
        |  JOIN bench b ON c.g = b.g GROUP BY c.doc_id)
        |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_ngrams,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CASE WHEN len(c.sh) > 0
        |    THEN ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.sh), 6) END
        |    AS contamination
        |FROM corp c LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "q_gopher_rules" ->
      s"""WITH $gopherMomentsCtes
        |SELECT doc_id, n_words,
        |  (n_words BETWEEN 5 AND 1000) AS rule_words,
        |  (chars >= n_words * 3 AND chars <= n_words * 10) AS rule_mean_len,
        |  (sym * 10 <= n_words) AS rule_symbols,
        |  (alpha * 5 >= n_words * 4) AS rule_alpha,
        |  (stp >= 2) AS rule_stopwords,
        |  ($gopherPassSql) AS pass
        |FROM gm""".stripMargin,

    // Gopher gate + minhash-CC dedup (min-id representative) + split
    // hash, composed verbatim from the per-gate oracle fragments.
    "q_curation_pipeline" ->
      s"""WITH RECURSIVE $gopherMomentsCtes,
        |mh AS (SELECT id_a, id_b FROM ($minHashOracleSql) q),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM mh
        |  UNION SELECT id_b, id_a FROM mh),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep
        |  FROM reach GROUP BY s),
        |v AS (
        |  SELECT gm.doc_id, ($gopherPassSql) AS quality_pass,
        |    (COALESCE(c.cluster_rep, gm.doc_id) = gm.doc_id) AS is_canonical
        |  FROM gm LEFT JOIN comp c ON c.id = gm.doc_id)
        |SELECT doc_id, quality_pass, is_canonical,
        |  CASE
        |    WHEN NOT quality_pass THEN 'rejected_quality'
        |    WHEN NOT is_canonical THEN 'rejected_duplicate'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |      THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |      THEN 'val'
        |    ELSE 'test'
        |  END AS disposition
        |FROM v""".stripMargin,

    // simTopk's pair scan with the label-inequality prune.
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS ql, emb AS qe FROM e WHERE vec_id < 50),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
        |    ROUND(list_inner_product(q.qe, e.emb)
        |      / (sqrt(list_inner_product(q.qe, q.qe))
        |         * sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
        |  FROM q CROSS JOIN e WHERE e.label <> q.ql)
        |SELECT query_id, neighbor_id, neg_label, sim, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM p) WHERE rnk <= 3""".stripMargin,

    "q_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 4),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
        |  FROM tk),
        |fst AS (SELECT g, MIN(doc_id) AS f FROM sh GROUP BY 1)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(CAST(SUM(CASE WHEN f.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / COUNT(*) AS novelty
        |FROM sh s JOIN fst f USING (g)
        |GROUP BY 1""".stripMargin,

    "q_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_distinct(list_transform(
        |      generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1]))) AS BIGINT) AS n_bigrams
        |  FROM tk),
        |tc AS (
        |  SELECT doc_id, MAX(c) AS top_c FROM (
        |    SELECT doc_id, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(tk) AS tok FROM tk)
        |    GROUP BY doc_id, tok)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  ROUND(CAST(top_c AS DOUBLE) / b.n_tokens, 6) AS top_token_frac,
        |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_token_frac,
        |  CASE WHEN b.n_tokens > 1
        |    THEN ROUND(1.0 - CAST(n_bigrams AS DOUBLE) / (b.n_tokens - 1), 6) END
        |    AS dup_bigram_frac
        |FROM base b JOIN tc USING (doc_id)""".stripMargin,

    // Chunk starts advance by stride = 16 - 4 = 12; chunk count is
    // 1 for len <= 16 else (len-16+stride-1)//stride + 1 — the same
    // integer arithmetic as TokenChunkOps.chunk.
    "q_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(trim(text), ' ') AS tk,
        |    CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 16 THEN 0 ELSE (n - 16 + 11) // 12 END)) AS k
        |  FROM t)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  array_to_string(tk[(k*12 + 1):least(k*12 + 16, n)], ' ') AS chunk_text,
        |  CAST(least(k*12 + 16, n) - k*12 AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    "q_vocab_top" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 100""".stripMargin,

    // One deterministic-ln per (term, pair) on an exact integer ratio;
    // terms floor-quantized at 1e12, summed as exact integers.
    "q_source_kl" ->
      s"""WITH tc AS (
        |  SELECT source AS src, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)
        |  GROUP BY 1, 2),
        |terms AS (SELECT DISTINCT term FROM tc),
        |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM terms),
        |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
        |grid AS (
        |  SELECT t.src, te.term, COALESCE(tc.c, 0) AS c, t.n, vv.v
        |  FROM tot t CROSS JOIN terms te CROSS JOIN vv
        |  LEFT JOIN tc ON tc.src = t.src AND tc.term = te.term),
        |p AS (
        |  SELECT a.src AS source_a, b.src AS source_b,
        |    CAST((a.c + 1) * (b.n + a.v) AS DOUBLE)
        |      / CAST((a.n + a.v) * (b.c + 1) AS DOUBLE) AS __x,
        |    CAST(a.c + 1 AS DOUBLE) / CAST(a.n + a.v AS DOUBLE) AS __pa,
        |  ${lnSqlChain("__x", "__lnx")},
        |    CAST(FLOOR(__pa * __lnx * 1e12) AS BIGINT) AS tq
        |  FROM grid a JOIN grid b ON a.term = b.term AND a.src <> b.src)
        |SELECT source_a, source_b, CAST(SUM(tq) AS BIGINT) AS kl_q,
        |  CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e12 AS kl
        |FROM p GROUP BY 1, 2""".stripMargin,

    "q_oov_rate" ->
      """WITH tf AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1),
        |v AS (SELECT term FROM tf ORDER BY n DESC, term LIMIT 20),
        |t AS (
        |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM t LEFT JOIN v USING (term) GROUP BY 1""".stripMargin,

    "q_unigram_surprisal" ->
      s"""WITH $surprisalSqlCtes
        |SELECT doc_id, n_tokens, surprisal FROM surp""".stripMargin,

    // Train-slice LM (md5 split gate), one lnq per distinct train
    // term + one for the reserved unseen mass; exact integer per-doc
    // sums; mean and perplexity are mirrored IEEE trees.
    "q_heldout_ppl" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 < 80 AS tr,
        |    unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |counts AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks WHERE tr GROUP BY 1),
        |model AS (
        |  SELECT CAST(SUM(c) AS BIGINT) + CAST(COUNT(*) AS BIGINT) + 1
        |    AS m FROM counts),
        |lam AS (
        |  SELECT term,
        |    CAST(m AS DOUBLE) / CAST(c + 1 AS DOUBLE) AS __x,
        |  ${lnSqlChain("__x", "__lnx")},
        |  CAST(FLOOR(__lnx * 1e9) AS BIGINT) AS lamq
        |  FROM counts CROSS JOIN model),
        |lam0 AS (
        |  SELECT CAST(m AS DOUBLE) AS __x0,
        |  ${lnSqlChain("__x0", "__lnx0")},
        |  CAST(FLOOR(__lnx0 * 1e9) AS BIGINT) AS lam0q
        |  FROM model),
        |sc AS (
        |  SELECT t.doc_id,
        |    COALESCE(l.lamq, (SELECT lam0q FROM lam0)) AS q
        |  FROM toks t LEFT JOIN lam l USING (term) WHERE NOT t.tr),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(q) AS BIGINT) AS sq
        |  FROM sc GROUP BY 1),
        |f AS (
        |  SELECT doc_id, n_tokens,
        |    (CAST(sq AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE)
        |      AS surprisal
        |  FROM g),
        |px AS (
        |  SELECT doc_id, n_tokens, surprisal,
        |  ${expSqlChain("surprisal", "perplexity")}
        |  FROM f)
        |SELECT doc_id, n_tokens, surprisal, perplexity FROM px""".stripMargin,

    "q_doc_perplexity" ->
      s"""WITH $surprisalSqlCtes,
        |px AS (
        |  SELECT doc_id, n_tokens, surprisal,
        |  ${expSqlChain("surprisal", "perplexity")}
        |  FROM surp)
        |SELECT doc_id, n_tokens, surprisal, perplexity FROM px""".stripMargin,

    "q_perplexity_bucket" ->
      s"""WITH $surprisalSqlCtes,
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY surprisal, doc_id) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM surp)
        |SELECT d.source,
        |  CASE WHEN r.r * 3 <= r.n THEN 'head'
        |       WHEN r.r * 3 <= r.n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(r.n_tokens) AS BIGINT) AS sum_tokens
        |FROM r JOIN documents d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    // KN probability = fixed tree of correctly-rounded IEEE ops on
    // exact integer counts — mirrored op-for-op, no rounding step.
    "q_kn_bigram" ->
      """WITH toks AS (
        |  SELECT str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |p AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
        |s AS (
        |  SELECT w1, w2, c,
        |    CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS c_w1,
        |    CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p_fwd,
        |    CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1p_bwd,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS bb
        |  FROM p)
        |SELECT w1, w2, c, c_w1, n1p_fwd, n1p_bwd,
        |  GREATEST(CAST(c AS DOUBLE) - 7.5e-1, 0e0) / CAST(c_w1 AS DOUBLE)
        |    + ((7.5e-1 * CAST(n1p_fwd AS DOUBLE)) / CAST(c_w1 AS DOUBLE))
        |      * (CAST(n1p_bwd AS DOUBLE) / CAST(bb AS DOUBLE)) AS p_kn
        |FROM s""".stripMargin,

    // Exact-integer OLS on floor-quantized deterministic lns; the
    // closed form is HUGEINT Cramer trunc-division (quantization
    // cancels in beta) — no >2^53 decimal→double cast anywhere.
    "q_heaps_fit" ->
      s"""WITH tok AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM tok GROUP BY 1),
        |fs AS (SELECT MIN(doc_id) AS doc_id FROM tok GROUP BY t),
        |fv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nv
        |       FROM fs GROUP BY 1),
        |curve AS (
        |  SELECT CAST(SUM(pd.nt) OVER (ORDER BY pd.doc_id) AS DOUBLE)
        |           AS __cx,
        |         CAST(SUM(COALESCE(fv.nv, 0)) OVER (ORDER BY pd.doc_id)
        |           AS DOUBLE) AS __cy
        |  FROM pd LEFT JOIN fv USING (doc_id)),
        |q AS (
        |  SELECT __cx AS __x, __cy AS __y,
        |  ${lnSqlChain("__x", "__lnx")},
        |  ${lnSqlChain("__y", "__lny")},
        |  CAST(FLOOR(__lnx * 1e6) AS HUGEINT) AS xq,
        |  CAST(FLOOR(__lny * 1e6) AS HUGEINT) AS yq
        |  FROM curve),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * xq) AS sxx, SUM(xq * yq) AS sxy
        |  FROM q),
        |d AS (
        |  SELECT n, sx, sy,
        |    (n * sxy - sx * sy) AS numer,
        |    (n * sxx - sx * sx) AS denom
        |  FROM m),
        |f AS (
        |  SELECT n,
        |    (numer * 1000000 - (numer * 1000000) % denom) // denom AS bq,
        |    ((sy * denom - numer * sx) - (sy * denom - numer * sx)
        |       % (n * denom)) // (n * denom) AS kq
        |  FROM d)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(bq AS BIGINT) AS beta_q, CAST(kq AS BIGINT) AS ln_k_q,
        |  CAST(CAST(bq AS BIGINT) AS DOUBLE) / 1e6 AS beta,
        |  CAST(CAST(kq AS BIGINT) AS DOUBLE) / 1e6 AS ln_k
        |FROM f""".stripMargin,

    // Mix → repetition → shuffle: the q_mix_plan apportionment chain
    // at a 60k target, exact HUGEINT epoch split, md5 fractional
    // gate, and the same md5 shuffle order as the Spark ordinal.
    "q_train_manifest" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n
        |        FROM d GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |      FROM tok),
        |tw AS (SELECT SUM(wq) AS tot FROM w),
        |s AS (SELECT source, n,
        |        (60000 * wq) // tot AS base_a, (60000 * wq) % tot AS frac
        |      FROM w CROSS JOIN tw),
        |u AS (SELECT SUM(base_a) AS used FROM s),
        |r AS (SELECT s.*, ROW_NUMBER() OVER (ORDER BY frac DESC, source)
        |        AS rk FROM s),
        |alloc AS (
        |  SELECT source, n,
        |    CAST(base_a + CASE WHEN rk <= 60000 - (SELECT used FROM u)
        |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM r),
        |plan AS (
        |  SELECT source, alloc // n AS base,
        |    ((alloc % n) * 1000000) // n AS fm
        |  FROM alloc),
        |inst AS (
        |  SELECT d.source, d.doc_id, d.n_tokens,
        |    p.base + CASE WHEN
        |      ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < p.fm THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN plan p USING (source)),
        |e AS (
        |  SELECT source, doc_id, n_tokens, CAST(u.e AS BIGINT) AS epoch
        |  FROM inst, unnest(generate_series(1, copies)) AS u(e)
        |  WHERE copies >= 1)
        |SELECT source, doc_id, n_tokens, epoch,
        |  CAST(ROW_NUMBER() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |       || CAST(epoch AS VARCHAR)), 1, 15))::BIGINT,
        |    doc_id, epoch) AS BIGINT) AS train_pos
        |FROM e""".stripMargin,

    "q_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(LEN(str_split(TRIM(text), ' ')) AS BIGINT) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT CASE WHEN t <= 1 THEN 1 WHEN t <= 2 THEN 2
        |    WHEN t <= 4 THEN 4 WHEN t <= 8 THEN 8 WHEN t <= 16 THEN 16
        |    WHEN t <= 32 THEN 32 WHEN t <= 64 THEN 64 ELSE 128 END AS bucket,
        |    LEAST(t, 128) AS tok
        |  FROM d WHERE t > 0),
        |g AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens,
        |  CAST(n_docs * bucket AS BIGINT) AS capacity,
        |  CAST(n_docs * bucket - sum_tokens AS BIGINT) AS padding,
        |  CAST(n_docs * bucket - sum_tokens AS DOUBLE)
        |    / CAST(n_docs * bucket AS DOUBLE) AS waste
        |FROM g""".stripMargin,

    "q_kanon" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT c_nationkey, c_mktsegment, class_size,
        |  CAST(class_size AS DOUBLE) / CAST(n AS DOUBLE) AS exposed_share
        |FROM c CROSS JOIN t WHERE class_size < 15""".stripMargin,

    // Integer normal equations in HUGEINT; Cramer determinants in the
    // same fixed cofactor order as Regression.ridgeFit2; λ=100 on the
    // feature diagonal. y is the exact quality micro-score.
    "q_ridge_quality" ->
      s"""WITH $ridgeFitCtes
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(w0q AS BIGINT) AS w0_q, CAST(w1q AS BIGINT) AS w1_q,
        |  CAST(w2q AS BIGINT) AS w2_q,
        |  CAST(CAST(w0q AS BIGINT) AS DOUBLE) / 1e6 AS w0,
        |  CAST(CAST(w1q AS BIGINT) AS DOUBLE) / 1e6 AS w1,
        |  CAST(CAST(w2q AS BIGINT) AS DOUBLE) / 1e6 AS w2
        |FROM wq""".stripMargin,

    // Scoring pass over the same fit chain: residuals and R-squared
    // in exact HUGEINT trunc arithmetic.
    "q_ridge_eval" ->
      s"""WITH $ridgeFitCtes,
        |sc AS (
        |  SELECT (w0q + w1q * x1 + w2q * x2 - 1000000 * y) AS err,
        |    1000000 * y AS yp
        |  FROM f CROSS JOIN wq),
        |mm AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(ABS(err)) AS sae,
        |    MAX(ABS(err)) AS mx, SUM(err * err) AS sse,
        |    SUM(yp) AS sy, SUM(yp * yp) AS syy
        |  FROM sc),
        |fin AS (
        |  SELECT n, sae, mx, sse, (n * syy - sy * sy) AS sst FROM mm),
        |r AS (
        |  SELECT n, mx,
        |    (sae - sae % n) // n AS maeq,
        |    (((sst - n * sse) * 1000000)
        |      - ((sst - n * sse) * 1000000) % sst) // sst AS r2q
        |  FROM fin)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(maeq AS BIGINT) AS mae_q,
        |  CAST(mx AS BIGINT) AS max_abs_err_q,
        |  CAST(r2q AS BIGINT) AS r2_q,
        |  CAST(CAST(maeq AS BIGINT) AS DOUBLE) / 1e6 AS mae,
        |  CAST(CAST(r2q AS BIGINT) AS DOUBLE) / 1e6 AS r2
        |FROM r""".stripMargin,

    "q_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |tf AS (
        |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, tf,
        |    ROUND(-ln(CAST(SUM(tf) OVER (PARTITION BY w1, w2) AS DOUBLE)
        |            / CAST(SUM(tf) OVER (PARTITION BY w1) AS DOUBLE)), 6) AS nll
        |  FROM tf)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(tf AS DECIMAL(18,6)) * CAST(nll AS DECIMAL(18,6)))
        |    AS DOUBLE) / SUM(tf), 6) AS bigram_surprisal
        |FROM w GROUP BY doc_id""".stripMargin,

    "q_tfidf_top" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(tf.tf * ln(n.n / df.df), 6) AS tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY ROUND(tf.tf * ln(n.n / df.df), 6) DESC, tf.term ASC) AS r
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM s WHERE r = 1""".stripMargin,

    "q_pmi_colloc" ->
      """WITH toks AS (
        |  SELECT str_split(trim(lower(text)), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |pairs AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
        |  FROM bg GROUP BY 1, 2),
        |m AS (
        |  SELECT w1, w2, pair_count,
        |    CAST(SUM(pair_count) OVER (PARTITION BY w1) AS BIGINT) AS left_count,
        |    CAST(SUM(pair_count) OVER (PARTITION BY w2) AS BIGINT) AS right_count
        |  FROM pairs),
        |n AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS n FROM pairs)
        |SELECT w1, w2, pair_count, left_count, right_count,
        |  ROUND(ln((CAST(pair_count AS DOUBLE) * n.n)
        |    / (CAST(left_count AS DOUBLE) * CAST(right_count AS DOUBLE))), 6)
        |    AS pmi
        |FROM m CROSS JOIN n
        |WHERE pair_count >= 3
        |ORDER BY pmi DESC, w1 ASC, w2 ASC
        |LIMIT 50""".stripMargin,

    "q_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(str_split(trim(lower(text)), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id
        |FROM c""".stripMargin,

    "q_pack_concat" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(str_split(trim(lower(text)), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, text, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |b AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id
        |  FROM c)
        |SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |  string_agg(text, '<|eos|>' ORDER BY doc_id) AS sequence
        |FROM b GROUP BY 1""".stripMargin,

    "q_join_salted" ->
      """SELECT l.l_orderkey, l.l_extendedprice, l.l_linenumber,
        |  o.o_orderpriority
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,

    "q_asof_rate" ->
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / COUNT(value), 6) AS rate
        |  FROM events GROUP BY 1, 2),
        |r2 AS (SELECT * FROM r WHERE EXTRACT(hour FROM hr) % 2 = 0)
        |SELECT e.event_type, e.ts, e.event_id, e.value, r2.rate
        |FROM events e ASOF LEFT JOIN r2
        |  ON e.event_type = r2.event_type AND e.ts >= r2.hr""".stripMargin,

    "q_asof_bucketed" ->
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / COUNT(value), 6) AS rate
        |  FROM events GROUP BY 1, 2),
        |r2 AS (SELECT * FROM r WHERE EXTRACT(hour FROM hr) % 2 = 0)
        |SELECT e.event_type, e.ts, e.event_id, e.value, r2.rate
        |FROM events e ASOF LEFT JOIN r2
        |  ON e.event_type = r2.event_type AND e.ts >= r2.hr""".stripMargin,

    "q_rollup_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_pivot_status" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS sum_o,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS sum_f,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS sum_p
        |FROM orders GROUP BY 1""".stripMargin,

    "q_profile_columns" ->
      """WITH p AS (
        |  SELECT 'event_id' AS col_name,
        |    COUNT(*) - COUNT(event_id) AS n_nulls,
        |    COUNT(DISTINCT event_id) AS n_distinct,
        |    CAST(MIN(event_id) AS VARCHAR) AS min_val,
        |    CAST(MAX(event_id) AS VARCHAR) AS max_val
        |  FROM events
        |  UNION ALL SELECT 'ts',
        |    COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
        |    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f'),
        |    strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f')
        |  FROM events
        |  UNION ALL SELECT 'user_id',
        |    COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
        |    CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        |  FROM events
        |  UNION ALL SELECT 'event_type',
        |    COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
        |    MIN(event_type), MAX(event_type)
        |  FROM events
        |  UNION ALL SELECT 'value',
        |    COUNT(*) - COUNT(value), COUNT(DISTINCT value),
        |    printf('%.4f', ROUND(MIN(value), 4)), printf('%.4f', ROUND(MAX(value), 4))
        |  FROM events
        |  UNION ALL SELECT 'props',
        |    COUNT(*) - COUNT(props), COUNT(DISTINCT props),
        |    MIN(props), MAX(props)
        |  FROM events)
        |SELECT * FROM p""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 16384.0) AS BIGINT) AS bin,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  CAST(CAST(FLOOR(o_totalprice / 16384.0) AS BIGINT) * 16384 AS DOUBLE) AS bin_lo
        |FROM orders
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_retention_cohort" ->
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(datediff('day', f.cohort_week,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // Half-KL logs via the deterministic-ln chain; an absent side
    // feeds dummy 1.0 (ln = exactly 0) and its 0.0 proportion factor
    // kills the term bit-exactly — mirrors Drift.jsDivergence.
    "q_js_drift" ->
      s"""WITH t AS (
        |  SELECT event_type AS c, 1 AS r, 0 AS q FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16'
        |  UNION ALL
        |  SELECT event_type, 0, 1 FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16'),
        |pc AS (SELECT c, CAST(SUM(r) AS BIGINT) AS cr,
        |         CAST(SUM(q) AS BIGINT) AS cq FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
        |          CAST(SUM(cq) AS BIGINT) AS n_cur,
        |          CAST(COUNT(*) AS BIGINT) AS n_cats FROM pc),
        |w AS (
        |  SELECT n_ref, n_cur, n_cats,
        |    CAST(cr AS DOUBLE) / n_ref AS pp,
        |    CAST(cq AS DOUBLE) / n_cur AS qq,
        |    (pp + qq) / 2.0 AS mm,
        |    CASE WHEN cr > 0 THEN pp / mm ELSE 1e0 END AS __xa,
        |    CASE WHEN cq > 0 THEN qq / mm ELSE 1e0 END AS __xb,
        |  ${lnSqlChain("__xa", "__lna")},
        |  ${lnSqlChain("__xb", "__lnb")},
        |    CAST(FLOOR((pp * __lna / 2.0 + qq * __lnb / 2.0)
        |      * 1e12) AS DECIMAL(20,0)) AS term
        |  FROM pc CROSS JOIN tot)
        |SELECT n_ref, n_cur, n_cats,
        |  CAST(SUM(term) AS DOUBLE) / 1e12 AS jsd
        |FROM w GROUP BY 1, 2, 3""".stripMargin,

    // -p·ln(p) with the deterministic-ln chain (bit-parity with
    // Olap.categoricalEntropy's DetMath.lnq).
    "q_cat_entropy" ->
      s"""WITH cells AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT source, nc,
        |        SUM(nc) OVER (PARTITION BY source) AS n
        |      FROM cells),
        |lx AS (
        |  SELECT source, n,
        |    CAST(nc AS DOUBLE) / n AS pp,
        |    pp AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM m)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats,
        |  CAST(SUM(CAST(FLOOR((-pp * __lnx)
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS entropy_nats
        |FROM lx GROUP BY source""".stripMargin,

    "q_quantile_norm" -> {
      val probs = (0 to 20).map(i => (i.toDouble / 20).toString).mkString(", ")
      s"""WITH ref AS (
         |  SELECT [CAST(ROUND(q, 4) AS DECIMAL(14,4)) FOR q IN
         |    quantile_cont(value, [$probs])] AS qs
         |  FROM events WHERE event_type = 'click' AND value IS NOT NULL),
         |t AS (SELECT event_id, value FROM events
         |      WHERE event_type = 'error' AND value IS NOT NULL),
         |p AS (SELECT event_id, value,
         |        CAST(ROUND(PERCENT_RANK() OVER (ORDER BY value), 6)
         |          AS DECIMAL(18,6)) AS pr
         |      FROM t),
         |i AS (
         |  SELECT event_id, value, pr, qs,
         |    pr * 20 AS idx,
         |    CAST(FLOOR(pr * 20) AS INTEGER) AS lo,
         |    LEAST(CAST(FLOOR(pr * 20) AS INTEGER) + 1, 20) AS hi
         |  FROM p CROSS JOIN ref)
         |SELECT event_id, value, CAST(pr AS DOUBLE) AS pr,
         |  CAST(ROUND(qs[lo + 1] +
         |    CAST(idx - FLOOR(idx) AS DECIMAL(18,6))
         |      * (qs[hi + 1] - qs[lo + 1]), 6) AS DOUBLE) AS normalized
         |FROM i""".stripMargin
    },

    "q_topk_other" ->
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS category,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_rows DESC,
        |        category ASC) AS rk FROM c)
        |SELECT CASE WHEN rk <= 5 THEN category ELSE '(other)' END AS category,
        |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |  rk > 5 AS is_other
        |FROM r GROUP BY 1, 3""".stripMargin,

    "q_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS DECIMAL(18,4)) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC, o_custkey ASC)
        |        AS i FROM pc),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s,
        |        SUM(CAST(i AS DECIMAL(20,0)) * v) AS ws
        |      FROM r)
        |SELECT n, CAST(s AS DOUBLE) AS total,
        |  ROUND(2.0 * CAST(ws AS DOUBLE) / (n * CAST(s AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM m""".stripMargin,

    "q_ks_drift" ->
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type = 'error' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb FROM t GROUP BY 1),
        |c AS (SELECT
        |        SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cuma,
        |        SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cumb
        |      FROM pv),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |          CAST(SUM(cb) AS BIGINT) AS n_b FROM pv)
        |SELECT n_a, n_b,
        |  CAST(FLOOR(MAX(ABS(CAST(cuma AS DOUBLE) / n_a
        |    - CAST(cumb AS DOUBLE) / n_b)) * 1e6) AS DOUBLE) / 1e6 AS ks_d
        |FROM c CROSS JOIN tot GROUP BY 1, 2""".stripMargin,

    // Mann–Whitney mirrored: HUGEINT stands in for Spark's
    // DECIMAL(38,0) exact moments (both sides integer-exact); u_a and
    // z are the identical IEEE double chain on those exact values,
    // z FLOOR-quantized (round()-on-double diverges across engines).
    "q_mann_whitney" ->
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb,
        |         CAST(SUM(a) + SUM(b) AS BIGINT) AS cnt
        |       FROM t GROUP BY 1),
        |c AS (SELECT ca, cb, cnt,
        |        SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cum
        |      FROM pv),
        |g AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |        CAST(SUM(cb) AS BIGINT) AS n_b,
        |        SUM(CAST(ca AS HUGEINT) *
        |          CAST(2 * (cum - cnt) + cnt + 1 AS HUGEINT)) AS r2,
        |        SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT) * cnt - cnt)
        |          AS tt
        |      FROM c),
        |f AS (SELECT n_a, n_b,
        |        CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |        (CAST(r2 AS DOUBLE)
        |          - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2
        |          AS u_a,
        |        CAST(tt AS DOUBLE) AS tt FROM g)
        |SELECT n_a, n_b, u_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND
        |    na * nb / 12.0 * ((na + nb + 1)
        |      - tt / ((na + nb) * (na + nb - 1))) > 0
        |  THEN FLOOR((u_a - na * nb / 2)
        |    / sqrt(na * nb / 12.0 * ((na + nb + 1)
        |        - tt / ((na + nb) * (na + nb - 1)))) * 1e6) / 1e6
        |  END AS z
        |FROM f""".stripMargin,

    // ROC AUC mirrored: the q_mann_whitney CTE chain on the
    // purchase-vs-rest split, final select normalizes U by the exact
    // pair count, FLOOR-quantized.
    "q_roc_auc" ->
      """WITH t AS (
        |  SELECT value AS v, 1 AS a, 0 AS b FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events
        |  WHERE event_type <> 'purchase' AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
        |         CAST(SUM(b) AS BIGINT) AS cb,
        |         CAST(SUM(a) + SUM(b) AS BIGINT) AS cnt
        |       FROM t GROUP BY 1),
        |c AS (SELECT ca, cb, cnt,
        |        SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cum
        |      FROM pv),
        |g AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |        CAST(SUM(cb) AS BIGINT) AS n_b,
        |        SUM(CAST(ca AS HUGEINT) *
        |          CAST(2 * (cum - cnt) + cnt + 1 AS HUGEINT)) AS r2
        |      FROM c)
        |SELECT n_a AS n_pos, n_b AS n_neg,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    FLOOR((CAST(r2 AS DOUBLE)
        |        - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6) / 1e6
        |  END AS auc
        |FROM g""".stripMargin,

    // Lift table mirrored: SQL NTILE = Ordinal.withNtile by
    // construction; window prefix sums over the 10-row tile frame;
    // exact-integer rates, FLOOR-quantized.
    "q_lift_table" ->
      """WITH t AS (
        |  SELECT NTILE(10) OVER (ORDER BY value DESC, event_id ASC)
        |      AS bucket,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS n_pos FROM t GROUP BY 1),
        |c AS (SELECT p.*, SUM(n) OVER (ORDER BY bucket) AS cn,
        |        SUM(n_pos) OVER (ORDER BY bucket) AS cp FROM p),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |          CAST(SUM(n_pos) AS BIGINT) AS tp FROM p)
        |SELECT bucket, n, n_pos,
        |  FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e6) / 1e6
        |    AS rate,
        |  CASE WHEN tp > 0 THEN
        |    FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * 1e6) / 1e6
        |  END AS lift,
        |  CASE WHEN tp > 0 THEN
        |    FLOOR(CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)
        |      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * 1e6) / 1e6
        |  END AS cum_lift
        |FROM c CROSS JOIN tot""".stripMargin,

    // Spearman mirrored: doubled midranks as HUGEINT (Spark's
    // DECIMAL(38,0)), per-group window prefix over the per-value
    // counts, identical double chain, FLOOR-quantized.
    "q_spearman" ->
      """WITH r AS (
        |  SELECT event_type AS g, value AS x, EXTRACT(hour FROM ts) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cx AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM r GROUP BY 1, 2),
        |rx AS (SELECT g, x,
        |         CAST(2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |           + cnt + 1 AS HUGEINT) AS ra
        |       FROM cx),
        |cy AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM r GROUP BY 1, 2),
        |ry AS (SELECT g, y,
        |         CAST(2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |           + cnt + 1 AS HUGEINT) AS rb
        |       FROM cy),
        |j AS (SELECT r.g, rx.ra, ry.rb
        |      FROM r JOIN rx ON rx.g = r.g AND rx.x = r.x
        |      JOIN ry ON ry.g = r.g AND ry.y = r.y),
        |m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(ra) AS DOUBLE) AS sa,
        |        CAST(SUM(rb) AS DOUBLE) AS sb,
        |        CAST(SUM(ra * ra) AS DOUBLE) AS saa,
        |        CAST(SUM(rb * rb) AS DOUBLE) AS sbb,
        |        CAST(SUM(ra * rb) AS DOUBLE) AS sab
        |      FROM j GROUP BY 1)
        |SELECT g AS event_type, n,
        |  CASE WHEN CAST(n AS DOUBLE) * saa - sa * sa > 0
        |        AND CAST(n AS DOUBLE) * sbb - sb * sb > 0 THEN
        |    FLOOR((CAST(n AS DOUBLE) * sab - sa * sb)
        |      / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
        |        * (CAST(n AS DOUBLE) * sbb - sb * sb)) * 1e6) / 1e6
        |  END AS rho
        |FROM m""".stripMargin,

    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type AS x, dayofweek(ts) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
        |ys AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |          (SELECT CAST(COUNT(*) AS BIGINT) FROM xs) AS kx,
        |          (SELECT CAST(COUNT(*) AS BIGINT) FROM ys) AS ky FROM cells),
        |g AS (
        |  SELECT xs.nx, ys.ny, COALESCE(c.nxy, 0) AS o
        |  FROM xs CROSS JOIN ys
        |  LEFT JOIN cells c ON c.x IS NOT DISTINCT FROM xs.x
        |                   AND c.y IS NOT DISTINCT FROM ys.y)
        |SELECT n, kx * ky AS n_cells, (kx - 1) * (ky - 1) AS dof,
        |  CAST(SUM(CAST(FLOOR(
        |    ((CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |    * (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |    / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n))
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS chi2,
        |  CASE WHEN LEAST(kx, ky) > 1 THEN
        |    CAST(FLOOR(sqrt((CAST(SUM(CAST(FLOOR(
        |      ((CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |      * (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / n))
        |      * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12)
        |      / (CAST(n AS DOUBLE) * CAST(LEAST(kx, ky) - 1 AS DOUBLE)))
        |      * 1e6) AS DOUBLE) / 1e6
        |  END AS cramers_v
        |FROM g CROSS JOIN tot GROUP BY 1, 2, 3, LEAST(kx, ky)""".stripMargin,

    // p(xy)·ln(p(xy)/(p(x)p(y))) with the deterministic-ln chain
    // (bit-parity with Olap.mutualInformation's DetMath.lnq).
    "q_mutual_info" ->
      s"""WITH cells AS (
        |  SELECT event_type AS x, dayofweek(ts) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT nxy,
        |    SUM(nxy) OVER (PARTITION BY x) AS nx,
        |    SUM(nxy) OVER (PARTITION BY y) AS ny
        |  FROM cells),
        |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |          CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
        |lx AS (
        |  SELECT n, n_cells, nxy,
        |    CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM m CROSS JOIN tot)
        |SELECT n, n_cells,
        |  CAST(SUM(CAST(FLOOR(
        |    (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE) * __lnx)
        |    * 1e12) AS DECIMAL(20,0))) AS DOUBLE) / 1e12 AS mi_nats
        |FROM lx GROUP BY 1, 2""".stripMargin,

    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', CAST(MAX(o_orderdate) AS DATE),
        |      DATE '2001-09-01') AS BIGINT) AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT *,
        |    CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey ASC)
        |      AS BIGINT) AS r_score,
        |    CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
        |      AS BIGINT) AS f_score,
        |    CAST(NTILE(5) OVER (ORDER BY monetary ASC, o_custkey ASC)
        |      AS BIGINT) AS m_score
        |  FROM base)
        |SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |  || CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin,

    "q_event_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS r
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN r = 1 THEN event_type END) AS s1,
        |    MAX(CASE WHEN r = 2 THEN event_type END) AS s2,
        |    MAX(CASE WHEN r = 3 THEN event_type END) AS s3
        |  FROM r WHERE r <= 3 GROUP BY 1)
        |SELECT concat_ws(' > ', s1, s2, s3) AS path,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path ASC LIMIT 25""".stripMargin,

    "q_ab_ztest" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events),
        |u AS (SELECT variant, user_id,
        |        MAX(CASE WHEN event_type = 'purchase' AND value > 150
        |          THEN 1 ELSE 0 END) AS conv
        |      FROM e GROUP BY 1, 2),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(conv) AS BIGINT) AS c FROM u GROUP BY 1),
        |a AS (SELECT variant AS variant_a, n AS n_a, c AS conv_a FROM v
        |      ORDER BY variant ASC LIMIT 1),
        |b AS (SELECT variant AS variant_b, n AS n_b, c AS conv_b FROM
        |      (SELECT * FROM v ORDER BY variant ASC LIMIT 2)
        |      ORDER BY variant DESC LIMIT 1)
        |SELECT variant_a, n_a, conv_a, variant_b, n_b, conv_b,
        |  ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
        |FROM a CROSS JOIN b""".stripMargin,

    // CUPED mirrored: per-user pre/post sums re-quantized DECIMAL(18,6)
    // exactly as the Spark side; pooled moments are exact decimal sums;
    // θ and the adjusted means are the identical double chain,
    // FLOOR-quantized.
    "q_cuped" ->
      """WITH e AS (
        |  SELECT user_id, value, ts,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events),
        |u AS (SELECT variant, user_id,
        |        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |          THEN CAST(COALESCE(value, 0) AS DECIMAL(18,6))
        |          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS x,
        |        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |          THEN CAST(0 AS DECIMAL(18,6))
        |          ELSE CAST(COALESCE(value, 0) AS DECIMAL(18,6)) END)
        |          AS DECIMAL(18,6)) AS y
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |          AS sxx,
        |        SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |          AS sxy FROM u),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |        SUM(x) AS vx, SUM(y) AS vy FROM u GROUP BY 1)
        |SELECT variant, n_users,
        |  FLOOR(CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE) * 1e6) / 1e6
        |    AS mean_post,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |  THEN FLOOR((CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(vx AS DOUBLE) / CAST(n_users AS DOUBLE)
        |        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6) / 1e6
        |  END AS mean_adjusted
        |FROM v CROSS JOIN p""".stripMargin,

    "q_cohort_ltv" ->
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(datediff('day', f.cohort_week,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT e.user_id) AS n_buyers
        |FROM events e JOIN f USING (user_id)
        |WHERE e.event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin,

    "q_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage_ord, 'view' AS stage_name,
        |  (SELECT COUNT(*) FROM s0) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s1)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s2)""".stripMargin,

    "q_range_join" ->
      """SELECT o.o_orderkey, COUNT(l.l_orderkey) AS cnt
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
        |GROUP BY 1""".stripMargin,

    // Patterns interpolated from the Redact constants so the Spark
    // chain and the oracle can never drift.
    "q_pii_redact" ->
      s"""WITH synth AS (
         |  SELECT doc_id,
         |    text || ' contact: user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com ip 10.2.'
         |      || CAST(doc_id % 256 AS VARCHAR)
         |      || '.7 ssn 123-45-6789 call 415-555-'
         |      || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS x
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(x,
         |    '${graft.ext.Redact.EmailPattern}', '<EMAIL>', 'g'),
         |    '${graft.ext.Redact.Ipv4Pattern}', '<IP>', 'g'),
         |    '${graft.ext.Redact.SsnPattern}', '<ID>', 'g'),
         |    '${graft.ext.Redact.PhonePattern}', '<PHONE>', 'g') AS clean
         |FROM synth""".stripMargin,

    "q_text_nfc" ->
      """WITH s AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) AS x FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(x) AS nfc,
        |  strip_accents(nfc_normalize(x)) AS ascii,
        |  length(x) AS n_raw,
        |  length(nfc_normalize(x)) AS n_nfc
        |FROM s""".stripMargin,

    "q_merge_upsert" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 9),
        |s AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 3
        |         THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    (o_orderkey % 7 = 3) AS del
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 3 OR o_orderkey % 10 = 9)
        |SELECT
        |  COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |  CASE WHEN s.del IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        |WHERE NOT COALESCE(s.del, false)""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |    ROUND(quantile_cont(value, 0.05), 6) AS lo,
        |    ROUND(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  LEAST(GREATEST(e.value, b.lo), b.hi) AS value_clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin,

    "q_copurchase" ->
      """WITH a AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)
        |SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS n_baskets
        |FROM a x JOIN a y USING (b)
        |WHERE x.i < y.i
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin,

    // Association rules mirrored: all three ratios are single IEEE
    // divisions of exact integer counts, FLOOR-quantized.
    "q_assoc_rules" ->
      """WITH a AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |p AS (SELECT x.i AS item_a, y.i AS item_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_pair
        |      FROM a x JOIN a y USING (b)
        |      WHERE x.i < y.i GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |r AS (SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM p
        |      UNION ALL
        |      SELECT item_b, item_a, n_pair FROM p),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item FROM a GROUP BY 1),
        |t AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM a)
        |SELECT r.antecedent, r.consequent, r.n_pair,
        |  ia.n_item AS n_ante, ci.n_item AS n_cons,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) / CAST(t.nb AS DOUBLE) * 1e6) / 1e6
        |    AS support,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) * 1e6)
        |    / 1e6 AS confidence,
        |  FLOOR(CAST(r.n_pair AS DOUBLE) * CAST(t.nb AS DOUBLE)
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ci.n_item AS DOUBLE)) * 1e6)
        |    / 1e6 AS lift
        |FROM r
        |JOIN ic ia ON ia.i = r.antecedent
        |JOIN ic ci ON ci.i = r.consequent
        |CROSS JOIN t""".stripMargin,

    // Audience overlap mirrored: exact integer counts, single IEEE
    // divisions, FLOOR-quantized; the grid cross join reports
    // zero-overlap pairs.
    "q_audience_overlap" ->
      """WITH su AS (
        |  SELECT DISTINCT event_type AS s, user_id AS e FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM su GROUP BY 1),
        |bo AS (SELECT a.s AS seg_a, b.s AS seg_b,
        |         CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM su a JOIN su b ON a.e = b.e AND a.s < b.s
        |       GROUP BY 1, 2)
        |SELECT ga.s AS seg_a, gb.s AS seg_b, ga.n AS n_a, gb.n AS n_b,
        |  COALESCE(bo.nb, 0) AS n_both,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(ga.n + gb.n - COALESCE(bo.nb, 0) AS DOUBLE) * 1e6) / 1e6
        |    AS jaccard,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(LEAST(ga.n, gb.n) AS DOUBLE) * 1e6) / 1e6 AS overlap
        |FROM sz ga CROSS JOIN sz gb
        |LEFT JOIN bo ON bo.seg_a = ga.s AND bo.seg_b = gb.s
        |WHERE ga.s < gb.s""".stripMargin,

    // Same overlap grid with word-3-gram shingles as the entity — the
    // q_dup_share shingle chain feeding the q_audience_overlap shape.
    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, str_split(trim(lower(text)), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT source, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles
        |  FROM toks),
        |su AS (
        |  SELECT DISTINCT source AS s, unnest(shingles) AS e FROM t
        |  WHERE source IS NOT NULL),
        |sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM su GROUP BY 1),
        |bo AS (SELECT a.s AS seg_a, b.s AS seg_b,
        |         CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM su a JOIN su b ON a.e = b.e AND a.s < b.s
        |       GROUP BY 1, 2)
        |SELECT ga.s AS seg_a, gb.s AS seg_b, ga.n AS n_a, gb.n AS n_b,
        |  COALESCE(bo.nb, 0) AS n_both,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(ga.n + gb.n - COALESCE(bo.nb, 0) AS DOUBLE) * 1e6) / 1e6
        |    AS jaccard,
        |  FLOOR(CAST(COALESCE(bo.nb, 0) AS DOUBLE)
        |    / CAST(LEAST(ga.n, gb.n) AS DOUBLE) * 1e6) / 1e6 AS overlap
        |FROM sz ga CROSS JOIN sz gb
        |LEFT JOIN bo ON bo.seg_a = ga.s AND bo.seg_b = gb.s
        |WHERE ga.s < gb.s""".stripMargin,

    // Inter-arrival mirrored: epoch_us = unix_micros (exact BIGINT);
    // the same per-(user,type) window; gaps floor to integer seconds
    // (micros magnitude diverges the engines' percentile interpolation
    // beyond 6 dp); quantile_cont then matches Spark's percentile (the
    // q_quantiles convention).
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(FLOOR(CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS DOUBLE) / 1e6) AS BIGINT) AS gap_s
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type,
        |  ROUND(quantile_cont(gap_s, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(gap_s, 0.95), 6) AS p95,
        |  ROUND(quantile_cont(gap_s, 0.99), 6) AS p99
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1""".stripMargin,

    "q_rrf_fuse" -> rrfFuseOracleSql,

    "q_gapfill_rolling" ->
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM c),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (
        |  SELECT t.event_type, h.hr, COALESCE(c.cnt, 0) AS cnt
        |  FROM t CROSS JOIN h
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr)
        |SELECT event_type, hr, cnt,
        |  ROUND(CAST(SUM(cnt) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS avg_frame
        |FROM g
        |WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS cnt
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q_zscore_outliers" ->
      """WITH m AS (
        |  SELECT event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |z AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    ROUND((e.value - m.s1 / m.n)
        |      / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 6) AS z
        |  FROM events e JOIN m USING (event_type))
        |SELECT * FROM z WHERE ABS(z) > 2.5""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS group_median
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    ROUND(quantile_cont(ABS(e.value - m.group_median), 0.5), 6) AS group_mad
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT e.event_id, e.event_type, e.value, m.group_median, d.group_mad,
        |    CASE WHEN d.group_mad > 0
        |      THEN ROUND(ABS(e.value - m.group_median) / (1.4826 * d.group_mad), 6)
        |    END AS robust_z
        |  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type))
        |SELECT * FROM s
        |WHERE (group_mad > 0 AND robust_z > 3.0)
        |   OR (group_mad <= 0 AND value <> group_median)""".stripMargin,

    "q_running_distinct" ->
      """WITH fs AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |nd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new_users
        |       FROM fs GROUP BY 1)
        |SELECT day, n_new_users,
        |  CAST(SUM(n_new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_cumulative_users
        |FROM nd""".stripMargin,

    "q_attribution" ->
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, ts, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN struct_pack(ts := ts, ch := event_type) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT event_id, user_id, ts AS conv_ts, value AS conv_value,
        |  CASE WHEN touch IS NOT NULL AND touch.ts >= ts - INTERVAL 7 DAY
        |    THEN touch.ch ELSE 'direct' END AS channel,
        |  CASE WHEN touch IS NOT NULL AND touch.ts >= ts - INTERVAL 7 DAY
        |    THEN touch.ts END AS touch_ts
        |FROM t WHERE event_type = 'purchase'""".stripMargin,

    "q_topk_per_group" ->
      """WITH r AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |k AS (SELECT l_suppkey, l_partkey, rev,
        |        ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |          ORDER BY rev DESC, l_partkey ASC) AS rank
        |      FROM r)
        |SELECT l_suppkey, l_partkey, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rank AS BIGINT) AS rank
        |FROM k WHERE rank <= 3""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        |      FROM d GROUP BY 1),
        |t AS (SELECT SUM(n_obs) AS n FROM c)
        |SELECT digit, n_obs,
        |  ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_obs,
        |  ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS p_benford,
        |  ROUND(ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    - ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6), 6)
        |    AS deviation
        |FROM c CROSS JOIN t""".stripMargin,

    "q_zipf_fit" ->
      """WITH v AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences
        |  FROM (SELECT unnest(str_split(trim(lower(text)), ' ')) AS token
        |        FROM documents)
        |  GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 100),
        |r AS (SELECT occurrences AS occ,
        |        ROW_NUMBER() OVER (ORDER BY occurrences DESC, token ASC)
        |          AS rank
        |      FROM v),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS sx,
        |  SUM(CAST(ROUND(ln(occ), 6) AS DECIMAL(18,6))) AS sy,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
        |    * CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS sxx,
        |  SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
        |    * CAST(ROUND(ln(occ), 6) AS DECIMAL(18,6))) AS sxy
        |  FROM r)
        |SELECT n AS n_terms,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
        |    6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * CAST(sx AS DOUBLE)) / n, 6) AS intercept
        |FROM m""".stripMargin,

    "q_zone_map" -> {
      val x = "(l_partkey & 65535)"
      val y = "(l_suppkey & 65535)"
      val terms = (0 until 16).flatMap { i =>
        Seq(s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})")
      }
      s"""SELECT (${terms.mkString(" | ")}) >> 14 AS zone,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS l_partkey_min, MAX(l_partkey) AS l_partkey_max,
         |  MIN(l_suppkey) AS l_suppkey_min, MAX(l_suppkey) AS l_suppkey_max
         |FROM lineitem GROUP BY 1""".stripMargin
    },

    "q_triangles" ->
      """WITH a AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |           FROM lineitem),
        |e AS (SELECT x.i AS u, y.i AS v
        |      FROM a x JOIN a y ON x.b = y.b AND x.i < y.i
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin,

    "q_approx_distinct" ->
      """WITH h AS (
        |  SELECT l_returnflag AS g,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |r AS (
        |  SELECT g, h // 2251799813685248 AS bucket,
        |    CASE WHEN h % 2251799813685248 = 0 THEN 52
        |         ELSE 52 - length(bin(h % 2251799813685248)) END AS rank
        |  FROM h),
        |regs AS (SELECT g, bucket, MAX(rank) AS M FROM r GROUP BY 1, 2),
        |s AS (SELECT g, SUM(1::BIGINT << (52 - M)) AS s_live,
        |        COUNT(*) AS live
        |      FROM regs GROUP BY 1)
        |SELECT g AS l_returnflag,
        |  ROUND(CASE WHEN raw <= 1280.0 AND V > 0
        |    THEN 512.0 * ln(512.0 / V) ELSE raw END, 4) AS approx_distinct
        |FROM (SELECT g, (512 - live) AS V,
        |    (0.7213/(1.0 + 1.079/512.0))*512.0*512.0*4503599627370496.0
        |      / CAST(s_live + (512 - live) * 4503599627370496 AS DOUBLE)
        |      AS raw
        |  FROM s)""".stripMargin,

    "q_countmin" ->
      """WITH k AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |sk AS (
        |  SELECT i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || k), 1, 15))::BIGINT
        |      % 256 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM k CROSS JOIN d GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY user_id ORDER BY exact_count DESC, user_id ASC LIMIT 20),
        |probe AS (
        |  SELECT t.user_id, t.exact_count, d.i,
        |    ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':'
        |      || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM top t CROSS JOIN d)
        |SELECT p.user_id, p.exact_count, MIN(s.cnt) AS cms_estimate
        |FROM probe p JOIN sk s ON s.i = p.i AND s.bucket = p.bucket
        |GROUP BY 1, 2""".stripMargin,

    "q_feature_hash" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(token), 1, 15))::BIGINT % 64 AS BIGINT)
        |    AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS token
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    "q_interval_overlap" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate AS ws,
        |    o_orderdate + INTERVAL 7 DAY AS we
        |  FROM orders)
        |SELECT a.o_custkey, a.o_orderkey AS id_a, b.o_orderkey AS id_b,
        |  greatest(a.ws, b.ws) AS overlap_start,
        |  least(a.we, b.we) AS overlap_end
        |FROM w a JOIN w b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |  AND a.ws < b.we AND b.ws < a.we""".stripMargin,

    "q_constraint_audit" -> {
      def row(name: String, viol: String) =
        s"""SELECT '$name' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $viol THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN $viol THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*), 6) AS pass_rate FROM lineitem""".stripMargin
      def fk(name: String, ck: String, ptbl: String, pk: String) =
        s"""SELECT '$name' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*), 6) AS pass_rate
           |FROM lineitem l LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $ptbl) p
           |  ON l.$ck = p.pk""".stripMargin
      Seq(
        row("lineitem.quantity_positive",
          "l_quantity IS NULL OR l_quantity <= 0"),
        row("lineitem.discount_unit_range",
          "l_discount IS NULL OR l_discount < 0 OR l_discount > 1"),
        row("lineitem.price_positive",
          "l_extendedprice IS NULL OR l_extendedprice <= 0"),
        row("lineitem.shipdate_present", "l_shipdate IS NULL"),
        """SELECT 'lineitem.pk_unique' AS check_name,
          |  CAST(SUM(c) AS BIGINT) AS n_rows,
          |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_violations,
          |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS pass_rate
          |FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS c
          |      FROM lineitem GROUP BY 1, 2)""".stripMargin,
        fk("lineitem.fk_orders", "l_orderkey", "orders", "o_orderkey"),
        fk("lineitem.fk_part", "l_partkey", "part", "p_partkey"),
        fk("lineitem.fk_supplier", "l_suppkey", "supplier", "s_suppkey")
      ).mkString("", "\nUNION ALL\n", "")
    },

    "q_skew_profile" -> Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      s"""SELECT '$k' AS key_col, CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS max_cnt,
         |  ROUND(quantile_cont(c, 0.99), 6) AS p99_cnt,
         |  ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS avg_cnt,
         |  ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6) AS skew_ratio,
         |  (SELECT CAST(k AS VARCHAR) FROM (SELECT $k AS k, COUNT(*) AS c
         |     FROM lineitem GROUP BY 1) ORDER BY c DESC, CAST(k AS VARCHAR) DESC
         |   LIMIT 1) AS top_key
         |FROM (SELECT $k AS k, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM lineitem GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""),

    "q_ntile_deciles" ->
      """SELECT o_orderkey, o_totalprice,
        |  NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        |FROM orders""".stripMargin,

    "q_zorder_key" -> {
      val x = "(l_partkey & 65535)"
      val y = "(l_suppkey & 65535)"
      val terms = (0 until 16).flatMap { i =>
        Seq(s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})")
      }
      s"""SELECT l_orderkey, l_linenumber,
         |  ${terms.mkString(" | ")} AS zval
         |FROM lineitem""".stripMargin
    },

    // chr(233) = é: the repaired form for the %10=0 injection and the
    // untouched genuine accent for %10=5 coincide by construction.
    "q_fix_mojibake" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 IN (0, 5) THEN text || ' caf' || chr(233)
        |       ELSE text END AS fixed,
        |  (doc_id % 10 = 0) AS was_fixed
        |FROM documents""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |f AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
        |      FROM ch GROUP BY 1, 2),
        |t AS (SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s
        |      FROM f GROUP BY 1)
        |SELECT d.doc_id,
        |  ROUND(COALESCE(log2(t.n) - t.s / t.n, 0.0), 6) AS entropy
        |FROM documents d LEFT JOIN t USING (doc_id)""".stripMargin,

    "q_sample_weighted_strata" ->
      s"""WITH p0 AS (
        |  SELECT source, doc_id, n_chars,
        |    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 + 0.5) / 1000000.0) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |p AS (
        |  SELECT source, doc_id, ROUND(__lnx / n_chars, 9) AS priority
        |  FROM p0)
        |SELECT source, doc_id, priority, rank FROM (
        |  SELECT source, doc_id, priority,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY priority DESC, doc_id) AS rank
        |  FROM p) WHERE rank <= 5""".stripMargin,

    // Integer micro-unit contract (no DOUBLE crosses the hash): the
    // HALF_UP rationals stay BIGINT on both sides.
    // Double-free: the per-doc quality is summed in its exact-integer
    // micro form directly — no DOUBLE→DECIMAL round-trip whose
    // cast/rounding semantics an engine version could move.
    // total_tokens MUST be cast: DuckDB SUM(BIGINT) returns HUGEINT
    // (int128), which survives to the client as float64 — the r06–r10
    // hash-fail on this query was THAT export type, not the math.
    // Every output column of every oracle must be a type with a
    // faithful int64/float64/bool/str export (tools/exact_check.py
    // now rejects INT128 columns at the gate).
    "q_corpus_report" ->
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(str_split(TRIM(text), ' '))) AS BIGINT) AS total_tokens,
        |  CAST((2 * SUM($qualityMicroSqlExpr) + COUNT(*))
        |    // (2 * COUNT(*)) AS BIGINT) AS avg_quality_micro,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST((2 * (COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 + COUNT(*))
        |    // (2 * COUNT(*)) AS BIGINT) AS dup_rate_micro
        |FROM documents GROUP BY 1""".stripMargin,

    // The unbanded levenshtein + "> 2 -> 0" CASE is equivalent to the
    // Spark side's banded levenshtein(a, b, 2) (-1 beyond the band).
    // Survivorship closed-form: the priority-2 original wins every
    // field it has; its engineered nulls fall through to the twin.
    "q_golden_record" ->
      """SELECT CAST(c_custkey AS BIGINT) AS entity_id,
        |  CAST(2 AS BIGINT) AS n_members,
        |  c_name AS name, c_nationkey AS nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.5
        |         ELSE c_acctbal END
        |  ELSE c_acctbal END AS acctbal,
        |  c_mktsegment AS mktsegment
        |FROM customer""".stripMargin,

    "q_record_link" ->
      """WITH r AS (
        |  SELECT c_custkey AS r_custkey,
        |    substr(c_name, 1, 17) ||
        |      CASE WHEN c_custkey % 3 = 0 THEN 'X'
        |           ELSE substr(c_name, 18, 1) END AS r_name,
        |    c_nationkey AS r_nationkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.5
        |         ELSE c_acctbal END AS r_acctbal,
        |    c_mktsegment AS r_mktsegment
        |  FROM customer),
        |j AS (
        |  SELECT l.c_custkey, r.r_custkey,
        |    ROUND(
        |      0.7 * (CASE
        |        WHEN GREATEST(length(l.c_name), length(r.r_name)) = 0 THEN 1.0
        |        WHEN levenshtein(l.c_name, r.r_name) > 2 THEN 0.0
        |        ELSE 1.0 - CAST(levenshtein(l.c_name, r.r_name) AS DOUBLE)
        |          / CAST(GREATEST(length(l.c_name), length(r.r_name)) AS DOUBLE)
        |        END)
        |      + 0.3 * (CASE WHEN ABS(l.c_acctbal - r.r_acctbal) < 1.0
        |               THEN 1.0 ELSE 0.0 END), 6) AS score
        |  FROM customer l JOIN r
        |    ON l.c_nationkey = r.r_nationkey
        |   AND l.c_mktsegment = r.r_mktsegment)
        |SELECT c_custkey, r_custkey, score FROM j WHERE score >= 0.9""".stripMargin,

    // Ramp query pattern q_i = i+1, i in 0..23: Σq = 300, Σq² = 4900
    // exactly; the query-variance term folds to 27600.0 in both
    // engines. `//` is DuckDB integer division = Spark's `div`.
    "q_ts_motif" ->
      """WITH s AS (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |q AS (SELECT i, CAST(1.0 + i AS DECIMAL(18,6)) AS q
        |      FROM range(24) r(i)),
        |e AS (
        |  SELECT s.t - q.i AS start,
        |    CAST(s.v AS DECIMAL(19,4)) AS v, CAST(q.q AS DECIMAL(19,6)) AS q
        |  FROM s CROSS JOIN q),
        |g AS (
        |  SELECT start, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS sv,
        |    CAST(SUM(v*v) AS DOUBLE) AS svv,
        |    CAST(SUM(v*q) AS DOUBLE) AS svq
        |  FROM e GROUP BY 1 HAVING COUNT(*) = 24)
        |SELECT start,
        |  ROUND((24 * svq - sv * 300.0)
        |    / sqrt((24 * svv - sv * sv) * (24 * 4900.0 - 300.0 * 300.0)), 6)
        |    AS corr
        |FROM g ORDER BY corr DESC, start LIMIT 10""".stripMargin,

    // ACF closed form mirrored exactly: decimal moments cast to double
    // once, the mean-cleared numerator n²C − nS(A+B) + mS² over
    // n(n·Σx² − S²), FLOOR-quantized (both engines floor the same
    // IEEE double; round() implementations differ).
    "q_acf" ->
      """WITH d AS (
        |  SELECT datediff('day', DATE '1992-01-01', o_orderdate) AS t,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,6)) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS s,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM d),
        |lags AS (SELECT i + 1 AS lag FROM range(7) r(i)),
        |p AS (
        |  SELECT l.lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(a.x * b.x) AS DOUBLE) AS c,
        |    CAST(SUM(a.x) AS DOUBLE) AS sa,
        |    CAST(SUM(b.x) AS DOUBLE) AS sb
        |  FROM lags l
        |  CROSS JOIN d a
        |  JOIN d b ON b.t = a.t - l.lag
        |  GROUP BY 1)
        |SELECT l.lag, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  CASE WHEN t.n * (t.n * t.sxx - t.s * t.s) <> 0 THEN
        |    FLOOR((t.n * t.n * p.c - t.n * t.s * (p.sa + p.sb)
        |           + p.n_pairs * t.s * t.s)
        |      / (t.n * (t.n * t.sxx - t.s * t.s)) * 1e6) / 1e6
        |  END AS acf
        |FROM lags l LEFT JOIN p ON p.lag = l.lag CROSS JOIN tot t""".stripMargin,

    // Change-point mirrored: DuckDB's window prefix sums stand in for
    // plans/Prefix; all moments are exact integers, the statistic is
    // one division + sqrt on them, FLOOR-quantized, tie on earliest t.
    "q_changepoint" ->
      """WITH d AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    COUNT(*) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT t, SUM(x) OVER (ORDER BY t) AS sl,
        |    ROW_NUMBER() OVER (ORDER BY t) AS i
        |  FROM d),
        |tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM d)
        |SELECT r.t AS split_t, r.i AS n_left, t.n - r.i AS n_right,
        |  FLOOR(r.sl / CAST(r.i AS DOUBLE) * 1e6) / 1e6 AS mean_left,
        |  FLOOR((t.s - r.sl) / CAST(t.n - r.i AS DOUBLE) * 1e6) / 1e6
        |    AS mean_right,
        |  FLOOR(ABS(t.n * r.sl - r.i * t.s)
        |    / sqrt(CAST(t.n AS DOUBLE) * r.i * (t.n - r.i)) * 1e6) / 1e6
        |    AS cusum_stat
        |FROM r CROSS JOIN tot t
        |WHERE r.i < t.n
        |ORDER BY cusum_stat DESC, split_t LIMIT 1""".stripMargin,

    // Seasonal-naïve backtest mirrored: decimal-exact absolute-error
    // sums; each mean and the MASE ratio are IEEE divisions of exact
    // values, FLOOR-quantized. FULL JOIN USING coalesces the key the
    // same way Spark's full_outer Seq-join does.
    "q_seasonal_mase" ->
      """WITH d AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |        SUM(ABS(a.x - b.x)) AS se
        |      FROM d a JOIN d b
        |        ON b.event_type = a.event_type AND b.t = a.t - 7
        |      GROUP BY 1),
        |nv AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_naive,
        |         SUM(ABS(a.x - b.x)) AS ne
        |       FROM d a JOIN d b
        |         ON b.event_type = a.event_type AND b.t = a.t - 1
        |       GROUP BY 1)
        |SELECT event_type,
        |  COALESCE(n_pairs, 0) AS n_pairs,
        |  CASE WHEN n_pairs > 0 THEN
        |    FLOOR(CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE) * 1e6) / 1e6
        |  END AS mae,
        |  COALESCE(n_naive, 0) AS n_naive,
        |  CASE WHEN n_naive > 0 THEN
        |    FLOOR(CAST(ne AS DOUBLE) / CAST(n_naive AS DOUBLE) * 1e6) / 1e6
        |  END AS naive_mae,
        |  CASE WHEN n_pairs > 0 AND n_naive > 0 AND ne > 0 THEN
        |    FLOOR((CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE))
        |      / (CAST(ne AS DOUBLE) / CAST(n_naive AS DOUBLE)) * 1e6) / 1e6
        |  END AS mase
        |FROM s FULL JOIN nv USING (event_type)""".stripMargin,

    // Decomposition mirrored: DECIMAL(18,4) daily sums, centered 7-row
    // MA over the daily frame, statsmodels-style re-centered dow
    // indices, every division floor-quantized. DuckDB dayofweek is
    // Sunday=0, Spark's is Sunday=1 -> +1.
    "q_seasonal_decomp" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, d, v,
        |    CASE WHEN COUNT(*) OVER w7 = 7
        |      THEN FLOOR(CAST(SUM(v) OVER w7 AS DOUBLE) / 7 * 1e6) / 1e6
        |    END AS trend
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (
        |  SELECT *, CAST(dayofweek(d) + 1 AS INT) AS dow,
        |    CASE WHEN trend IS NOT NULL
        |      THEN FLOOR((CAST(v AS DOUBLE) - trend) * 1e6) / 1e6
        |    END AS detr
        |  FROM t),
        |seas AS (
        |  SELECT event_type, dow,
        |    FLOOR(CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) * 1e6) / 1e6 AS s_raw
        |  FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, dow,
        |    FLOOR((s_raw
        |      - FLOOR(CAST(SUM(CAST(s_raw AS DECIMAL(18,6))) OVER wk AS DOUBLE)
        |          / COUNT(*) OVER wk * 1e6) / 1e6) * 1e6) / 1e6 AS seasonal
        |  FROM seas
        |  WINDOW wk AS (PARTITION BY event_type))
        |SELECT dt.event_type, dt.d, dt.dow, CAST(dt.v AS DOUBLE) AS value,
        |  dt.trend, sc.seasonal,
        |  CASE WHEN dt.detr IS NOT NULL
        |    THEN FLOOR((dt.detr - sc.seasonal) * 1e6) / 1e6
        |  END AS resid
        |FROM dt LEFT JOIN sc
        |  ON dt.event_type = sc.event_type AND dt.dow = sc.dow""".stripMargin,

    // Cross-correlation mirrored: the q_acf conventions (decimal-exact
    // moments via DECIMAL(19,6) hugeint products, identical
    // mean-cleared double chain, FLOOR quantization), one CTE per
    // series.
    "q_ccf" ->
      """WITH dx AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1),
        |dy AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
        |    CAST(COUNT(*) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |mx AS (SELECT CAST(COUNT(*) AS BIGINT) AS nx,
        |         CAST(SUM(v) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
        |           AS DOUBLE) AS sxx
        |       FROM dx),
        |my AS (SELECT CAST(COUNT(*) AS BIGINT) AS ny,
        |         CAST(SUM(v) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
        |           AS DOUBLE) AS syy
        |       FROM dy),
        |lags AS (SELECT i - 7 AS lag FROM range(15) r(i)),
        |p AS (SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |        CAST(SUM(CAST(a.v AS DECIMAL(19,6)) * CAST(b.v AS DECIMAL(19,6)))
        |          AS DOUBLE) AS c,
        |        CAST(SUM(a.v) AS DOUBLE) AS sa,
        |        CAST(SUM(b.v) AS DOUBLE) AS sb
        |      FROM lags l CROSS JOIN dx a JOIN dy b ON b.t = a.t - l.lag
        |      GROUP BY 1)
        |SELECT l.lag, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  CASE WHEN p.n_pairs > 0
        |    AND mx.sxx - mx.sx * mx.sx / CAST(mx.nx AS DOUBLE) > 0
        |    AND my.syy - my.sy * my.sy / CAST(my.ny AS DOUBLE) > 0 THEN
        |    FLOOR((p.c - my.sy / CAST(my.ny AS DOUBLE) * p.sa
        |        - mx.sx / CAST(mx.nx AS DOUBLE) * p.sb
        |        + CAST(p.n_pairs AS DOUBLE) * (mx.sx / CAST(mx.nx AS DOUBLE))
        |          * (my.sy / CAST(my.ny AS DOUBLE)))
        |      / sqrt((mx.sxx - mx.sx * mx.sx / CAST(mx.nx AS DOUBLE))
        |        * (my.syy - my.sy * my.sy / CAST(my.ny AS DOUBLE))) * 1e6)
        |      / 1e6
        |  END AS ccf
        |FROM lags l LEFT JOIN p ON p.lag = l.lag
        |CROSS JOIN mx CROSS JOIN my""".stripMargin,

    // DECIMAL(19,*) casts: force DuckDB's hugeint multiply (see
    // q_corr_matrix). epoch_us matches Spark's unix_micros exactly
    // (BIGINT microseconds; date_part('epoch') is a fractional DOUBLE).
    "q_trend_slope" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) - 1704067200000000 AS DECIMAL(19,0)) AS x,
        |    CAST(value AS DECIMAL(19,6)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400000000.0, 6)
        |  END AS slope_per_day,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |  END AS intercept
        |FROM m""".stripMargin,

    // The log-ratio is the deterministic-ln chain (lnSqlChain), NOT
    // libm ln() — bit-parity with DetMath.lnq on the Spark side. The
    // output is the integer micro-unit sum itself (psi_micro12
    // BIGINT): no DOUBLE crosses the hash boundary, so no
    // engine/version cast-or-division semantics can perturb it.
    // PURE-INTEGER mirror of [[graft.ext.Drift.psi]]: exact rational
    // proportions (eps = 1/10⁶ for an absent side), the exact-integer
    // fixed-point ln, truncating divides on non-negative operands —
    // no DOUBLE exists anywhere in either engine's computation, so no
    // engine-version drift can move the hash.
    "q_psi_drift" ->
      s"""WITH r AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS n_ref
        |  FROM events WHERE value IS NOT NULL AND event_type <> 'purchase'
        |  GROUP BY 1),
        |c AS (
        |  SELECT CAST(FLOOR(value / 32.0) AS BIGINT) AS bin, COUNT(*) AS n_cur
        |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(r.n_ref, 0) AS br, COALESCE(c.n_cur, 0) AS bc
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |t AS (
        |  SELECT CAST(SUM(br) AS BIGINT) AS n_ref,
        |    CAST(SUM(bc) AS BIGINT) AS n_cur, COUNT(*) AS n_bins FROM j),
        |rat AS (
        |  SELECT
        |    (CASE WHEN bc = 0 THEN 1 ELSE bc END)
        |      * (CASE WHEN br = 0 THEN 1000000 ELSE t.n_ref END) AS __ra,
        |    (CASE WHEN br = 0 THEN 1 ELSE br END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE t.n_cur END) AS __rb,
        |    (CASE WHEN br = 0 THEN 1000000 ELSE t.n_ref END)
        |      * (CASE WHEN bc = 0 THEN 1000000 ELSE t.n_cur END) AS __m
        |  FROM j CROSS JOIN t),
        |lx AS (
        |  SELECT GREATEST(__ra, __rb) AS __ga, LEAST(__ra, __rb) AS __gb,
        |    ABS(__ra - __rb) AS __d, __m,
        |  ${lnRatioFpSql("__ga", "__gb", "__lnfp")}
        |  FROM rat),
        |terms AS (
        |  SELECT (__d::HUGEINT * __lnfp) // (__m::HUGEINT * 1000000) AS term
        |  FROM lx)
        |SELECT CAST(SUM(term) AS BIGINT) AS psi_micro12,
        |  t.n_bins, t.n_ref, t.n_cur
        |FROM terms CROSS JOIN t
        |GROUP BY t.n_bins, t.n_ref, t.n_cur""".stripMargin,

    "q_scd2_lookup" ->
      """WITH chg AS (
        |  SELECT user_id, ts, MAX(event_id) AS event_id,
        |    arg_max(event_type, event_id) AS event_type
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER w AS prev, ROW_NUMBER() OVER w AS rn
        |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |o AS (
        |  SELECT user_id, event_type AS tier, ts AS effective_from
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT e.user_id, e.ts, e.event_id, e.value, o.tier
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.effective_from""".stripMargin,

    // The oracle is the DIRECT aggregate over the full table — passing
    // proves the state merge is lossless.
    "q_agg_merge" ->
      """SELECT event_type,
        |  COUNT(value) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
        |  MIN(value) AS min_val,
        |  MAX(value) AS max_val
        |FROM events GROUP BY 1""".stripMargin,

    // DECIMAL(19,6), not (18,6): DuckDB's decimal multiply keeps the
    // max INPUT precision when both operands fit int64 (18,6 × 18,6 →
    // DECIMAL(18,12) — overflows on real prices); precision 19 forces
    // the hugeint path (→ DECIMAL(38,12), exact). The values are
    // identical to Spark's decimal(18,6) products — both are exact.
    "q_corr_matrix" ->
      """WITH c AS (
        |  SELECT CAST(l_quantity AS DECIMAL(19,6)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(19,6)) AS e,
        |    CAST(l_discount AS DECIMAL(19,6)) AS d,
        |    CAST(l_tax AS DECIMAL(19,6)) AS t
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(e) AS DOUBLE) AS se,
        |    CAST(SUM(d) AS DOUBLE) AS sd, CAST(SUM(t) AS DOUBLE) AS st,
        |    CAST(SUM(q*q) AS DOUBLE) AS pqq, CAST(SUM(q*e) AS DOUBLE) AS pqe,
        |    CAST(SUM(q*d) AS DOUBLE) AS pqd, CAST(SUM(q*t) AS DOUBLE) AS pqt,
        |    CAST(SUM(e*e) AS DOUBLE) AS pee, CAST(SUM(e*d) AS DOUBLE) AS ped,
        |    CAST(SUM(e*t) AS DOUBLE) AS pet, CAST(SUM(d*d) AS DOUBLE) AS pdd,
        |    CAST(SUM(d*t) AS DOUBLE) AS pdt, CAST(SUM(t*t) AS DOUBLE) AS ptt
        |  FROM c)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  ROUND((n*pqe - sq*se) / sqrt((n*pqq - sq*sq) * (n*pee - se*se)), 6) AS corr FROM a
        |UNION ALL SELECT 'l_quantity', 'l_discount',
        |  ROUND((n*pqd - sq*sd) / sqrt((n*pqq - sq*sq) * (n*pdd - sd*sd)), 6) FROM a
        |UNION ALL SELECT 'l_quantity', 'l_tax',
        |  ROUND((n*pqt - sq*st) / sqrt((n*pqq - sq*sq) * (n*ptt - st*st)), 6) FROM a
        |UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  ROUND((n*ped - se*sd) / sqrt((n*pee - se*se) * (n*pdd - sd*sd)), 6) FROM a
        |UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  ROUND((n*pet - se*st) / sqrt((n*pee - se*se) * (n*ptt - st*st)), 6) FROM a
        |UNION ALL SELECT 'l_discount', 'l_tax',
        |  ROUND((n*pdt - sd*st) / sqrt((n*pdd - sd*sd) * (n*ptt - st*st)), 6) FROM a""".stripMargin,

    "q_html_strip" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style></head><body><h1>'
        |    || source || '</h1><p>' || text ||
        |    ' &amp; "quotes" &lt;tag&gt;</p><!-- note --><script type="text/js">var x = 1;</script></body></html>'
        |    AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t
        |  FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(t,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t
        |  FROM s2)
        |SELECT doc_id, TRIM(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS clean
        |FROM s3""".stripMargin,

    // Two passes of the BM25 chain; the expansion set derives purely
    // in SQL (count desc, term asc, limit 3 — the same total order
    // the Spark side collects).
    "q_bm25_rm3" -> {
      def pass(cond: String, sfx: String) =
        s"""tf$sfx AS (
           |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
           |  WHERE $cond GROUP BY 1, 2),
           |dfr$sfx AS (
           |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term)
           |    AS df
           |  FROM tf$sfx),
           |sc$sfx AS (
           |  SELECT f.doc_id,
           |    ROUND(SUM(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
           |      * f.tf * 2.2
           |      / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n)))), 6)
           |      AS score
           |  FROM dfr$sfx f JOIN dl d USING (doc_id) CROSS JOIN stats s
           |  GROUP BY 1)""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(dl) AS DOUBLE) AS tot
         |  FROM dl),
         |${pass("term IN ('spark', 'query', 'merge')", "1")},
         |top1 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |      AS r FROM sc1)
         |  WHERE r <= 5),
         |exp AS (
         |  SELECT term FROM (
         |    SELECT t.term, COUNT(*) AS c
         |    FROM toks t JOIN top1 USING (doc_id)
         |    WHERE t.term NOT IN ('spark', 'query', 'merge')
         |      AND len(t.term) > 0
         |    GROUP BY 1)
         |  ORDER BY c DESC, term LIMIT 3),
         |${pass("term IN ('spark', 'query', 'merge') " +
            "OR term IN (SELECT term FROM exp)", "2")},
         |ew AS (SELECT string_agg(term, ',' ORDER BY term) AS e FROM exp)
         |SELECT doc_id, score, rank, (SELECT e FROM ew) AS expanded_with
         |FROM (
         |  SELECT doc_id, score,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM sc2)
         |WHERE rank <= 50""".stripMargin
    },

    "q_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(trim(lower(text)), ' ')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS tot
        |  FROM dl),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'query', 'merge') GROUP BY 1, 2),
        |dfr AS (
        |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |sc AS (
        |  SELECT f.doc_id,
        |    ROUND(SUM(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * f.tf * 2.2
        |      / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n)))), 6) AS score
        |  FROM dfr f JOIN dl d USING (doc_id) CROSS JOIN stats s
        |  GROUP BY 1)
        |SELECT doc_id, score, rank FROM (
        |  SELECT doc_id, score,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM sc)
        |WHERE rank <= 50""".stripMargin,

    "q_cube_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_quality_pct" ->
      """SELECT doc_id, n_chars,
        |  ROUND(PERCENT_RANK() OVER (ORDER BY n_chars), 6) AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL""".stripMargin,

    // The same canonicalization steps, verbatim, in DuckDB (RE2 + list
    // lambdas): fragment drop, lowercased scheme://host, trailing-slash
    // strip, tracking-param filter + sort.
    "q_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 3 = 0 THEN
        |        'HTTPS://Example.COM/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&id=' ||
        |        CAST(doc_id % 25 AS VARCHAR) || '&utm_campaign=x#frag'
        |      WHEN doc_id % 3 = 1 THEN
        |        'https://example.com/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?id=' ||
        |        CAST(doc_id % 25 AS VARCHAR)
        |      ELSE
        |        'https://example.com/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?ref=tw&id=' ||
        |        CAST(doc_id % 25 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nofrag
        |  FROM raw),
        |s2 AS (
        |  SELECT doc_id,
        |    regexp_extract(nofrag, '^([^?]*)', 1) AS pre,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS qs
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(pre, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', 0)) AS head,
        |    regexp_replace(regexp_replace(pre, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
        |      '/+$', '') AS path,
        |    list_sort(list_filter(string_split(qs, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-zA-Z0-9_]+|gclid|fbclid|ref)='))) AS kept
        |  FROM s2),
        |canon AS (
        |  SELECT doc_id,
        |    head || path ||
        |    CASE WHEN len(kept) > 0
        |         THEN '?' || array_to_string(kept, '&') ELSE '' END AS url_canon
        |  FROM s3)
        |SELECT url_canon, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM canon GROUP BY 1""".stripMargin,

    "q_sample_weighted" ->
      s"""WITH p0 AS (
        |  SELECT doc_id, n_chars,
        |    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 + 0.5) / 1000000.0) AS __x,
        |  ${lnSqlChain("__x", "__lnx")}
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |p AS (
        |  SELECT doc_id, ROUND(__lnx / n_chars, 9) AS priority
        |  FROM p0)
        |SELECT doc_id, priority, rank FROM (
        |  SELECT doc_id, priority,
        |    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rank
        |  FROM p) WHERE rank <= 100""".stripMargin,

    // Brute-force all-pairs with a length prefilter: tiny at the gate
    // SF; the Spark side's deletion-neighborhood join must produce the
    // identical pair set (completeness for d <= 1 is the FastSS lemma).
    "q_dedup_edit" ->
      """WITH n AS (
        |  SELECT DISTINCT c_name AS s FROM customer WHERE c_name IS NOT NULL)
        |SELECT a.s AS name_a, b.s AS name_b,
        |  levenshtein(a.s, b.s) AS dist
        |FROM n a JOIN n b
        |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin,

    // LAG cannot distinguish "no previous row" from "previous value was
    // null", so the first-row guard is an explicit ROW_NUMBER() = 1 —
    // the same null-safe boundary rule as the Spark side's lag-struct
    // IS NULL check.
    "q_scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER w AS prev,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |o AS (
        |  SELECT user_id, event_type, ts AS effective_from, event_id
        |  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (
        |  SELECT user_id, event_type, effective_from,
        |    LEAD(effective_from) OVER
        |      (PARTITION BY user_id ORDER BY effective_from, event_id)
        |      AS effective_to
        |  FROM o)
        |SELECT user_id, event_type, effective_from, effective_to,
        |  (effective_to IS NULL) AS is_current
        |FROM v""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |new AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderkey IS NOT NULL AS in_old,
        |    n.o_orderkey IS NOT NULL AS in_new,
        |    o.o_custkey AS old_custkey, o.o_orderstatus AS old_status,
        |    o.o_totalprice AS old_price, o.o_orderdate AS old_date,
        |    o.o_orderpriority AS old_prio,
        |    n.o_custkey AS new_custkey, n.o_orderstatus AS new_status,
        |    n.o_totalprice AS new_price, n.o_orderdate AS new_date,
        |    n.o_orderpriority AS new_prio
        |  FROM old o FULL OUTER JOIN new n USING (o_orderkey)),
        |t AS (
        |  SELECT *,
        |    CASE WHEN NOT in_old THEN 'insert'
        |         WHEN NOT in_new THEN 'delete'
        |         WHEN old_custkey IS DISTINCT FROM new_custkey
        |           OR old_status IS DISTINCT FROM new_status
        |           OR old_price IS DISTINCT FROM new_price
        |           OR old_date IS DISTINCT FROM new_date
        |           OR old_prio IS DISTINCT FROM new_prio THEN 'update'
        |    END AS change_type
        |  FROM j)
        |SELECT o_orderkey,
        |  CASE WHEN change_type = 'delete' THEN old_custkey ELSE new_custkey END AS o_custkey,
        |  CASE WHEN change_type = 'delete' THEN old_status ELSE new_status END AS o_orderstatus,
        |  CASE WHEN change_type = 'delete' THEN old_price ELSE new_price END AS o_totalprice,
        |  CASE WHEN change_type = 'delete' THEN old_date ELSE new_date END AS o_orderdate,
        |  CASE WHEN change_type = 'delete' THEN old_prio ELSE new_prio END AS o_orderpriority,
        |  change_type
        |FROM t WHERE change_type IS NOT NULL""".stripMargin,
  )
}
