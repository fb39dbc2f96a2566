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
        // (Dedup.recommendedGridThreshold) needs both — mass says how
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
    val rec = Dedup.recommendedGridThreshold(
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
