package graft.ext

import graft.tools.CellDiag

import org.scalatest.funsuite.AnyFunSuite

/** [[CellDiag.recommendedGridThreshold]] against the SIX measured
  * (miner, corpus) census cells of the r15/r16 gate A/B — the recipe
  * must reproduce the measured per-shape winner on every one (raw
  * timing streams: `SCALING_100x_ab_T{8192,4096,1024}.jsonl`,
  * `SCALING_30x_ab_T1024.jsonl`; censuses: `tools.CellDiag` output
  * recorded in SCALING.md). maxN / Σn² literals below are the r16
  * CellDiag readings on the v4 corpora.
  */
class GridGateRecipeSpec extends AnyFunSuite {

  test("reproduces the measured A/B winner on all six census cells") {
    // portable 6x10-bit miner
    assert(CellDiag.recommendedGridThreshold(553L, BigInt(3796834L)) === 8192,
      "portable sf0.1: gate cold, shipped default")
    assert(CellDiag.recommendedGridThreshold(4215L, BigInt(370763208L)) === 8192,
      "portable 30x: 1024 measured 6.93 s vs 3.61 s shipped — machinery")
    assert(CellDiag.recommendedGridThreshold(11511L, BigInt(4079098270L)) === 1024,
      "portable 100x: 1024 measured 12.2 s vs 14.0 s shipped — straggler")
    // fast 7x9-bit miner
    assert(CellDiag.recommendedGridThreshold(2061L, BigInt(13282528L)) === 8192,
      "fast sf0.1: 1024 measured 3.02 s vs 1.40 s shipped")
    assert(CellDiag.recommendedGridThreshold(5178L, BigInt(683007326L)) === 8192,
      "fast 30x: below the scale floor")
    assert(CellDiag.recommendedGridThreshold(10559L, BigInt(7034543802L)) === 8192,
      "fast 100x: 1024 measured 17.0 s vs 11.9 s shipped — warm-cell mass")
  }

  test("rule structure: both conditions must hold, integer-exact") {
    // severity alone (tiny corpus, one huge cell): scale floor blocks
    assert(CellDiag.recommendedGridThreshold(1000L, BigInt(1000000L)) === 8192)
    // scale alone (huge corpus, perfectly spread cells): severity blocks
    assert(CellDiag.recommendedGridThreshold(
      100L, BigInt(256L) * (1L << 23)) === 8192)
    // both: recommend the measured low gate
    assert(CellDiag.recommendedGridThreshold(
      200000L, BigInt(256L) * (1L << 23)) === 1024)
    // no Long overflow at billion-row cells (maxN² · fanout > Long.Max)
    assert(CellDiag.recommendedGridThreshold(
      3000000000L, BigInt("9000000000000000000000")) === 8192)
    // exact boundary: maxN²·fanout == 6·Σn² AND Σn² == 2²²·fanout passes
    val sum = BigInt(1L << 22) * 256
    val maxN = math.sqrt((sum * 6 / 256).toDouble).ceil.toLong
    assert(CellDiag.recommendedGridThreshold(maxN, sum) === 1024)
    // degenerate inputs refuse loudly
    intercept[IllegalArgumentException] {
      CellDiag.recommendedGridThreshold(-1L, BigInt(1))
    }
  }
}
