package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Aggregate, Validate}
import graft.queries._
import graft.queries.Shared.valueValid

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
  *
  * Each query is defined once, together with its oracle, as a
  * [[graft.queries.QueryDef]] in a family object under `graft.queries`;
  * [[queries]] and [[oracleSql]] are derived from the family lists.
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
  private[graft] def embCountFor(dir: String, emb: => DataFrame): Long =
    corpusCountCache.computeIfAbsent(dir,
      _ => Long.box(emb.count())).longValue

  /** Drop every memoized corpus size (see [[corpusCountCache]]'s
    * immutability contract) — call after mutating a corpus dir this
    * JVM has already queried.
    */
  def clearCorpusSizeCache(): Unit = corpusCountCache.clear()

  private[graft] def lshBitsFor(dir: String, emb: => DataFrame): Int =
    graft.ext.Similarity.adaptiveLshBits(embCountFor(dir, emb))

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

  /** Every query, family by family. The family objects read nothing of
    * SparkEntry while they initialise (their builds call [[embCountFor]]
    * and [[lshBitsFor]] only when run), so building the inventory here
    * cannot see a half-initialised SparkEntry.
    */
  private[graft] val definitions: Seq[QueryDef] = Seq(
    ReferenceQueries.defs, DedupQueries.defs, SimilarityQueries.defs,
    EmbeddingQueries.defs, MediaQueries.defs, TextQualityQueries.defs,
    TextCleanQueries.defs, VocabQueries.defs, SamplingQueries.defs,
    AnalyticsQueries.defs, BehaviorQueries.defs, DriftQueries.defs,
    OlapQueries.defs, RelationalQueries.defs).flatten

  private val byName = QueryDef.byName(definitions)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (k, d) => k -> d.build }

  /** Each query's DuckDB oracle SQL, run over the same parquet. */
  val oracleSql: Map[String, String] =
    byName.map { case (k, d) => k -> d.oracleSql }
}
