package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ZOrderedLakeSpec extends SparkSpec {

  /** Per-file [min,max] envelopes of both dims — what parquet footer
    * stats expose to a scan. A file is a PRUNING CANDIDATE for `v` if
    * its envelope contains v (must be opened); otherwise it is skipped.
    */
  private def candidateFiles(path: String, dim: String, v: Long): Long = {
    val byFile = graft.SparkTestSession.spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi"))
    byFile.filter(col("lo") <= v && col("hi") >= v).count()
  }

  private def writeLinear(df: DataFrame, path: String, byCol: String, files: Int): Unit =
    df.repartitionByRange(files, col(byCol)).sortWithinPartitions(byCol)
      .write.mode("overwrite").parquet(path)

  /** The z-ordered layout: range-partition and sort on the Morton key. */
  private def writeZOrdered(
      df: DataFrame, path: String, dimA: String, dimB: String,
      files: Int, bits: Int): Unit =
    df.withColumn("__z", ZOrderedLake.zKey(col(dimA), col(dimB), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  test("z-ordered files bound BOTH dims; linear sort only bounds its leading dim") {
    import spark.implicits._
    // 128x128 grid: both dims comparable cardinality (the layout's
    // documented applicability condition — a 10-value dim cannot be
    // bounded when every file necessarily spans most of it)
    val grid = (for { x <- 0 until 128; y <- 0 until 128 }
      yield (x.toLong, y.toLong)).toDF("dim_a", "dim_b")
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    val files = 16
    writeZOrdered(grid, zDir, "dim_a", "dim_b", files, bits = 7)
    writeLinear(grid, linDir, "dim_a", files)

    // same data in both layouts
    assert(spark.read.parquet(zDir).count() == grid.count())

    // probe several points of each dim; count files a stats-pruning
    // scan would have to open under each layout
    val probes = Seq(10L, 40L, 70L, 100L, 120L)
    val zA = probes.map(candidateFiles(zDir, "dim_a", _)).sum
    val linA = probes.map(candidateFiles(linDir, "dim_a", _)).sum
    val zB = probes.map(candidateFiles(zDir, "dim_b", _)).sum
    val linB = probes.map(candidateFiles(linDir, "dim_b", _)).sum

    // the linear layout wins on its own leading dim ...
    assert(linA <= zA)
    // ... but leaves the second dim unbounded (every probe opens every
    // file); z-order must prune a strict majority of those opens
    assert(linB == probes.size.toLong * files,
      s"linear layout unexpectedly bounded the non-leading dim: $linB")
    assert(zB * 2 < linB,
      s"z-order pruned too little on the second dim: $zB vs $linB")
    // and z-order still bounds the leading dim usefully (not all files)
    assert(zA < probes.size.toLong * files)
  }

  test("zoneMap: counts partition the table, bounds contain the data") {
    import spark.implicits._
    val df = (0L until 4096L).map(i => (i % 64, i / 64)).toDF("a", "b")
    val zm = graft.sink.ZOrderedLake.zoneMap(df, "a", "b",
      bits = 16, zoneBits = 26) // shift 6: fine cells on small dims
    val rows = zm.collect()
    assert(rows.map(_.getLong(1)).sum === 4096L)
    assert(rows.length > 1)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3)) // a_min <= a_max
      assert(r.getLong(4) <= r.getLong(5)) // b_min <= b_max
    }
  }

  test("zone maps merge: batch-incremental equals full recompute") {
    import spark.implicits._
    val df = (0L until 2048L).map(i => (i % 64, i / 32)).toDF("a", "b")
    val (h1, h2) = (df.filter($"a" < 32), df.filter($"a" >= 32))
    // count sums, bounds min/max: the merge a batch-incremental index runs
    val merged = graft.sink.ZOrderedLake.zoneMap(h1, "a", "b", 16, 26)
      .unionByName(graft.sink.ZOrderedLake.zoneMap(h2, "a", "b", 16, 26))
      .groupBy("zone")
      .agg(sum("n_rows").as("n_rows"), min("a_min").as("a_min"),
        max("a_max").as("a_max"), min("b_min").as("b_min"),
        max("b_max").as("b_max"))
    val full = graft.sink.ZOrderedLake.zoneMap(df, "a", "b", 16, 26)
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
  }

  test("zoneMap cells are tight on BOTH dims (the z-order payoff)") {
    import spark.implicits._
    // 64x64 grid; level-26 zones (shift 6) = 64-point quad cells: each
    // must span at most an 8-wide box in each dim (quad-tree locality)
    val df = (0L until 4096L).map(i => (i % 64, i / 64)).toDF("a", "b")
    val zm = graft.sink.ZOrderedLake.zoneMap(df, "a", "b",
      bits = 16, zoneBits = 26).collect()
    zm.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 8, r.toString)
      assert(r.getLong(5) - r.getLong(4) < 8, r.toString)
    }
  }
}
