package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver testdata tables (`/root/testdata/sf0.001`
  * and siblings).
  *
  * Also owns the session confs every graft query needs. They are set
  * idempotently at query entry because the driver may hand us a session
  * it built itself:
  *   - ANSI off — casts must null on garbage (TRY_CAST semantics; the
  *     reference's validate-before-cast contract, SURVEY.md §7) instead
  *     of throwing, and Spark 4 defaults ANSI on;
  *   - `nanosAsLong` — the testdata `events.ts` is parquet
  *     TIMESTAMP(NANOS), which Spark otherwise refuses to read
  *     (PARQUET_TYPE_ILLEGAL); we read the raw nanos and truncate to
  *     microseconds exactly like DuckDB does;
  *   - UTC session timezone — deterministic timestamp formatting vs the
  *     DuckDB oracle.
  */
object Tables {

  def prepare(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Shuffle granularity at the 30× "awkward middle" (SCALING.md
    // q_dedup_edit: hot FastSS join partitions too big for 32
    // cpus-sized reducers, too small for AQE's default 256 MB
    // skew-split): lower the AQE skew-JOIN thresholds so the split
    // engages on byte-visible tens-of-MB hot partitions instead of
    // only at 100×. This is the DATA-derived default — AQE measures
    // the actual partition bytes and splits only what is hot — and
    // costs nothing at small SF (thresholds stay far above tiny-SF
    // partition sizes). Deliberately NOT touched after A/B at sf0.1:
    // advisoryPartitionSizeInBytes (16m re-coalesced EVERY mid-size
    // shuffle and measured ~3-4% slower on the full bench; the
    // default 64m stays) and coalescePartitions.initialPartitionNum
    // (a blanket 256 added ~45% wall at sf0.001). Compute-per-row
    // skew that no byte trigger can see is handled at the query
    // level (editDistancePairs' explicit fan-out). Set only where the
    // session has no value of its own: `conf.getAll` lists only keys
    // that were set (on the builder or at runtime), while `get` would
    // report the default, so a caller that tuned its session keeps its
    // values.
    val own = spark.conf.getAll
    Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"
    ).foreach { case (k, v) => if (!own.contains(k)) spark.conf.set(k, v) }
    // SQL surface for the native kernels (idempotent re-registration);
    // sessions built with spark.sql.extensions=GraftExtensions get the
    // same set at config time.
    graft.functions.GraftFunctions.registerAll(spark)
  }

  /** The session of the local-mode mains: `local[N]` with N from
    * `SPARK_GRAFT_CPUS`, or this JVM's available processors when it is
    * unset; N shuffle partitions unless `shufflePartitions` is given;
    * no UI; WARN logging; and [[prepare]]'s confs.
    */
  def localSession(shufflePartitions: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
    spark
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` normalized to a session-TZ `timestamp` ts, whatever the
    * parquet layout: TIMESTAMP(NANOS) arrives as a raw long (via
    * `nanosAsLong`) and is integer-divided to micros — identical
    * truncation to DuckDB's TIMESTAMP_NS → TIMESTAMP read — while
    * TIMESTAMP(MICROS) (NTZ) is cast directly (value-preserving under
    * the UTC session timezone both engines run in).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark)
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "lineitem")
  }
  def orders(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "orders")
  }
  def customer(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "customer")
  }
  def part(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "part")
  }
  def supplier(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "supplier")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "documents")
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark); read(spark, dir, "embeddings")
  }
}
