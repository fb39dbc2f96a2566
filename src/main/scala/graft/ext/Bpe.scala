package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Byte-pair-encoding merge learning (Sennrich et al., ACL'16) —
  * tokenizer induction over a corpus, the step every LLM data pipeline
  * runs before it can even COUNT tokens. No reference analog.
  *
  * Semantics (classic word-level BPE, no end-of-word marker):
  *
  *  1. Collapse the corpus to a word-frequency table — the only
  *     corpus-sized aggregate; everything after is VOCABULARY-sized.
  *  2. Represent each distinct word as a per-character symbol sequence.
  *  3. `numMerges` times: count adjacent symbol pairs weighted by word
  *     frequency, take the argmax (count desc, then pair lexicographic
  *     — a total order, so the winner is unique), and merge every
  *     greedy-left-to-right occurrence of that pair.
  *
  * The merge application is RELATIONAL, not a string replace: within a
  * word, a candidate position (sym=l, next=r) is applied iff its
  * offset from the start of its maximal run of consecutive candidates
  * is even — exactly the greedy left-to-right rule ("a a a a" with
  * pair (a,a) merges positions 1 and 3, yielding "aa aa"), where a
  * substring-replace approach silently diverges on runs because each
  * replacement consumes the shared delimiter. Runs of length one (any
  * pair with l != r) degenerate to "every candidate applies".
  *
  * Determinism: pair counts are exact integer sums; the argmax order
  * is total; merge application is pure integer/window logic — the
  * DuckDB oracle unrolls the same `numMerges` stages and matches
  * bit-for-bit (kmeans/PageRank discipline).
  *
  * Scale shape: the symbols table is Σ|distinct word| rows — bounded
  * by vocabulary, not corpus. Per iteration: one word-keyed window
  * pass (frames bounded by word length), one pair aggregate (key space
  * = symbol-pair vocabulary), one single-row collect for the argmax,
  * and one persist/unpersist generation swap so lineage stays O(1)
  * (the PageRank loop discipline). Driver state: `numMerges` rows.
  *
  * Merge COUNT at production scale: the per-iteration work above is
  * vocabulary-bounded, but iterations are SEQUENTIAL — one argmax job
  * per merge, so a real 32k-merge tokenizer is 32k Spark jobs. At
  * even ~0.5 s/job that is hours of pure scheduling, and no amount of
  * cluster width helps (the loop is serial by definition of BPE).
  * The standard production posture — what SentencePiece/HF trainers
  * do — is to learn merges on a FREQUENCY-CAPPED word vocabulary
  * (the head of the Zipf curve carries virtually all pair mass; the
  * long tail of hapax words costs rows in every one of the 32k window
  * passes while contributing ~nothing to any argmax) and to run the
  * loop on that bounded table, which for a capped vocab fits a single
  * beefy driver/worker as easily as a cluster. This library learns
  * on the full vocabulary; the inventory queries stay at the frozen
  * rung (numMerges = 6, tiny test vocab).
  */
object Bpe {

  /** Learn `numMerges` BPE merges from the corpus; returns the ordered
    * merge table (merge_rank, lhs, rhs, pair_count). Stops early if no
    * adjacent pair remains (tiny corpora).
    */
  def learnMerges(
      docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    learn(docs, textCol, numMerges, needVocab = false)._1

  /** Post-merge vocabulary: one row per distinct word with its symbol
    * (= token) count under the learned merges — the join table that
    * prices any corpus in LEARNED-tokenizer tokens without touching
    * the merge machinery again.
    */
  def vocabAfterMerges(
      docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    learn(docs, textCol, numMerges)._2.get // needVocab=true: always Some

  /** `needVocab = false` (the merge-table-only callers) skips the
    * post-merge vocab aggregate entirely — its persist+count is a full
    * extra job over the final symbol generation whose result would be
    * discarded, and its cache entry would leak for the session (only
    * a vocab consumer can unpersist it). The vocab element is `None`
    * in that mode — an Option so an absent vocab is type-checked at
    * the call site instead of NPEing at a distance (ADVICE r17).
    */
  private def learn(
      docs: DataFrame, textCol: String, numMerges: Int,
      needVocab: Boolean = true)
      : (DataFrame, Option[DataFrame]) = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = docs.sparkSession
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(split(trim(lower(col(textCol))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val byWord = Window.partitionBy(col("word")).orderBy(col("pos"))
    var syms = words
      .select(col("word"), col("freq"),
        posexplode(split(col("word"), "")).as(Seq("pos", "sym")))
      .select(col("word"), col("freq"),
        (col("pos") + 1).cast("long").as("pos"), col("sym"))
      .persist()
    // The previous generation is released only AFTER an action has
    // filled the current one's cache (the argmax collect below), so
    // each iteration pays exactly ONE job — no separate count().
    var prevGen: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val withNext = syms.withColumn("__nsym", lead(col("sym"), 1).over(byWord))
      val best = withNext
        .filter(col("__nsym").isNotNull)
        .groupBy(col("sym"), col("__nsym"))
        .agg(sum(col("freq")).as("__cnt"))
        .orderBy(col("__cnt").desc, col("sym"), col("__nsym"))
        .limit(1)
        .collect()
      if (prevGen != null) { prevGen.unpersist(); prevGen = null }
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank.toLong, l, r, cnt))
        // Greedy application: candidates -> consecutive-candidate runs
        // -> even offsets apply -> the following symbol row is consumed.
        val cand = withNext.withColumn("__cand",
          coalesce(col("sym") === lit(l) && col("__nsym") === lit(r),
            lit(false)))
        val grouped = cand.withColumn("__grp",
          when(col("__cand"),
            col("pos") - sum(when(col("__cand"), 1L).otherwise(0L))
              .over(byWord)))
        val applied = grouped.withColumn("__app",
          col("__cand") &&
            (col("pos") - min(col("pos"))
              .over(Window.partitionBy(col("word"), col("__grp"))))
              % 2 === 0)
        val next = applied
          .withColumn("__prevApp",
            coalesce(lag(col("__app"), 1).over(byWord), lit(false)))
          .filter(!col("__prevApp"))
          .withColumn("__newPos", row_number().over(byWord).cast("long"))
          .select(col("word"), col("freq"), col("__newPos").as("pos"),
            when(col("__app"), concat(col("sym"), lit(r)))
              .otherwise(col("sym")).as("sym"))
          .persist()
        prevGen = syms
        syms = next
        rank += 1
      }
    }
    val vocabRows =
      if (!needVocab) None
      else {
        // Materialize the vocab off the final generation BEFORE
        // releasing it; the merge table is driver state already.
        val v = syms
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_bpe_tokens"))
          .persist()
        v.count()
        Some(v)
      }
    if (prevGen != null) prevGen.unpersist()
    syms.unpersist()
    import spark.implicits._
    (merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count"), vocabRows)
  }
}
