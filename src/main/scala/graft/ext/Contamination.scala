package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Benchmark-contamination detection: for every training
  * document, how much of it appears verbatim (as word n-grams) in a
  * held-out benchmark set. The standard pre-training hygiene step
  * (GPT-3 appendix C / Gopher §A.3 style n-gram decontamination).
  * No reference equivalent (north-star extension).
  *
  * Scale shape: candidate generation is an equi-join on the n-gram —
  * never doc×doc. The corpus side explodes to (doc, distinct n-gram)
  * rows; the benchmark side collapses to its DISTINCT n-gram set
  * (typically millions of rows — tiny next to a 100 TB corpus — so AQE
  * will broadcast it; if it ever grows past the broadcast threshold the
  * same plan degrades gracefully to a shuffled hash join on the
  * n-gram). One aggregate keyed on the doc id finishes the ratio.
  */
object Contamination {

  // The shingle kernel trims + lowercases internally (Locale.ROOT).
  private def grams(text: Column, n: Int): Column =
    graft.functions.TextExprs.wordShingles(text, n)

  /** Per-corpus-document n-gram overlap against `benchmark`.
    *
    * Output: (idCol, n_ngrams, n_hits, contamination) — n_ngrams =
    * distinct word n-grams of the document, n_hits = how many of those
    * occur anywhere in the benchmark, contamination = n_hits/n_ngrams
    * rounded 6 dp (null when the document is shorter than n tokens).
    * Every corpus document appears exactly once.
    */
  def ngramOverlap(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    // Shingle each corpus document ONCE: n_ngrams rides through the
    // explode next to each gram (a separate totals branch would re-run
    // the shingle kernel over the whole corpus — exchange reuse
    // does not dedupe independent subtrees). explode_outer keeps
    // gram-less (too-short) docs as a single null-gram row, which can
    // never join, so every corpus doc still appears exactly once.
    val corpusGrams = corpus
      .select(col(idCol), grams(col(textCol), n).as("__gs"))
      // size(null) is -1 under legacySizeOfNull (ANSI off) — a null
      // text must yield n_ngrams NULL, matching the oracle.
      .select(col(idCol),
        when(col("__gs").isNotNull, size(col("__gs")))
          .cast("long").as("n_ngrams"),
        explode_outer(col("__gs")).as("__g"))
    val benchGrams = benchmark
      .select(explode(grams(col(textCol), n)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    corpusGrams
      .join(benchGrams, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(first(col("n_ngrams")).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        when(col("n_ngrams") > 0,
          round(col("n_hits").cast("double") / col("n_ngrams").cast("double"), 6)))
  }
}
