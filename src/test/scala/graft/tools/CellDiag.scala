package graft.tools

// Band/variant cell-count census — the count-derived (host-noise-
// immune) diagnostic behind the grid-gate tuning docs in SCALING.md:
// run it against a corpus dir to see what a given `gridThreshold`
// argument would catch before re-gating a deployment. Test scope on purpose: it is a dev/ops probe, not a
// library code path, and its one driver collect is a single
// aggregated summary row per table.
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Dedup

object CellDiag {
  /** Census-driven per-deployment gate guidance — the committed recipe
    * behind "re-gate from your own cell census" (SCALING.md, r15 gate
    * A/B). Input is the two count-derived statistics [[dist]] prints
    * for a banding (host-noise-immune): the LARGEST band-cell
    * row count and the TOTAL verify mass Σ n_cell². Returns the gate
    * the measured A/B table says that shape wants, for the miners'
    * `gridThreshold` argument — it does NOT change any shipped default.
    *
    * The rule (pure integer arithmetic, measured-then-chosen on the
    * six (miner, corpus) cells of the r15/r16 A/B —
    * `SCALING_100x_ab_T{8192,4096,1024}.jsonl`, `SCALING_30x_ab_T1024
    * .jsonl`, censuses in SCALING.md): recommend the low 1024 gate iff
    * BOTH hold, else keep the shipped 8192 —
    *
    *   (a) scale floor: Σn²/fanout ≥ 2²² — the balanced per-reducer
    *       verify share is big enough that a straggler costs seconds
    *       (portable@100× 15.9M ✓; portable@30× 1.45M ✗ — there the
    *       1024 gate measured 6.93 s vs 3.61 s shipped: machinery);
    *   (b) straggler severity: maxN² ≥ 6 · Σn²/fanout — the one
    *       hottest cell alone out-weighs six balanced reducers, so the
    *       tail is a genuine single-cell straggler the grid can slice
    *       (portable@100× 8.3× ✓ — 1024 measured 12.2 s vs 14.0;
    *       fast@100× 4.0× ✗ — its mass sits in a thousand warm cells
    *       the 256-way fan-out already balances statistically, and
    *       1024 measured 17.0 s vs 11.9 shipped).
    *
    * Why not the tempting mass-share rule ("gate low when most Σn²
    * sits below 8192"): fast@100× holds MORE sub-8192 mass (89.6% at
    * ≥1024) than portable@100× (78.6%) yet measured best at the HIGH
    * gate — caught mass does not discriminate; concentration does.
    * BigInt for the severity product: maxN² · fanout overflows Long
    * already at maxN ≈ 2³¹ with fanout 256.
    */
  def recommendedGridThreshold(
      maxCellN: Long, sumN2: BigInt, fanout: Int = 256): Int = {
    require(maxCellN >= 0 && sumN2 >= 0 && fanout >= 1,
      s"bad census: maxCellN=$maxCellN sumN2=$sumN2 fanout=$fanout")
    val scaleFloor = sumN2 >= BigInt(1L << 22) * fanout
    val severity =
      BigInt(maxCellN) * BigInt(maxCellN) * fanout >= sumN2 * 6
    if (scaleFloor && severity) 1024 else 8192
  }

  private def dist(name: String, cells: DataFrame): Unit = {
    val d = cells.groupBy()
      .agg(count(lit(1)).as("cells"), max("n").as("maxN"),
        expr("percentile_approx(n, array(0.5, 0.9, 0.99, 0.999), 10000)")
          .as("p"),
        sum(col("n") * col("n")).as("sumN2"),
        // .otherwise(0L): a conditional sum with no otherwise yields
        // NULL when no cell reaches the tier, and "ge8192=null" is
        // ambiguous output for the exact tool deployments read before
        // re-gating — an empty tier must print 0.
        sum(when(col("n") >= 8192, col("n") * col("n")).otherwise(lit(0L)))
          .as("n2_ge8192"),
        sum(when(col("n") >= 4096, col("n") * col("n")).otherwise(lit(0L)))
          .as("n2_ge4096"),
        sum(when(col("n") >= 2048, col("n") * col("n")).otherwise(lit(0L)))
          .as("n2_ge2048"),
        sum(when(col("n") >= 1024, col("n") * col("n")).otherwise(lit(0L)))
          .as("n2_ge1024"),
        sum(when(col("n") >= 512, col("n") * col("n")).otherwise(lit(0L)))
          .as("n2_ge512"),
        // Per-tier CELL counts alongside the n² mass: the gate recipe
        // (recommendedGridThreshold) needs both — mass says how
        // much verify work a gate would catch, count says whether it
        // is straggler relief (few huge cells) or machinery (hundreds
        // of warm ones).
        sum(when(col("n") >= 8192, 1L).otherwise(lit(0L))).as("c_ge8192"),
        sum(when(col("n") >= 4096, 1L).otherwise(lit(0L))).as("c_ge4096"),
        sum(when(col("n") >= 2048, 1L).otherwise(lit(0L))).as("c_ge2048"),
        sum(when(col("n") >= 1024, 1L).otherwise(lit(0L))).as("c_ge1024"),
        sum(when(col("n") >= 512, 1L).otherwise(lit(0L))).as("c_ge512"))
      .collect()(0)
    // An empty census (zero cells) leaves max/sum NULL — print that
    // state instead of NPEing past the remaining censuses.
    if (d.isNullAt(1) || d.isNullAt(3)) {
      println(s"[celldiag] $name cells=${d.get(0)} EMPTY census " +
        "(no band cells) — recommended_gate=8192 (shipped default)")
      return
    }
    // The committed recipe reads straight off the census: deployments
    // see the recommended `gridThreshold` argument on the same line
    // as the statistics that justify it (SCALING.md r16 section).
    val rec = recommendedGridThreshold(
      d.getLong(1), BigInt(d.getLong(3)))
    println(s"[celldiag] $name cells=${d.get(0)} maxN=${d.get(1)} " +
      s"p50/90/99/999=${d.get(2)} sumN2=${d.get(3)} " +
      s"n2_ge8192=${d.get(4)} n2_ge4096=${d.get(5)} n2_ge2048=${d.get(6)} " +
      s"n2_ge1024=${d.get(7)} n2_ge512=${d.get(8)} " +
      s"c_ge8192=${d.get(9)} c_ge4096=${d.get(10)} c_ge2048=${d.get(11)} " +
      s"c_ge1024=${d.get(12)} c_ge512=${d.get(13)} " +
      s"recommended_gate=$rec")
  }

  private def bandCells(sigs: DataFrame, nBands: Int, width: Int) =
    sigs.select(explode(array(
        Dedup.simHashBandCells(nBands, width, col("simhash")): _*)).as("bb"))
      .groupBy(col("bb.band"), col("bb.bk")).agg(count(lit(1)).as("n"))

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_scale_30x")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.prepare(spark)
    val docs = Tables.documents(spark, dir)

    // q_dedup_simhash: portable miner, 6 bands x 10 bits
    dist("portable(6x10b)", bandCells(
      Dedup.portableSimHashSignatures(docs, "doc_id", "text"), 6, 10))
    // q_dedup_simhash_fast: 64-bit miner at maxDist=6 -> 7 bands x 9 bits
    dist("fast(7x9b)", bandCells(
      Dedup.simHash(docs, "doc_id", "text"), 7, 64 / 7))
    // q_dedup_edit: FastSS deletion variants over customer names
    val vcells = Dedup.editVariants(Tables.customer(spark, dir), "c_name")
      .groupBy("__v").agg(count(lit(1)).as("n"))
    dist("fastss(c_name)", vcells)
    spark.stop()
  }
}
