package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a lowercased, trimmed text.
  *
  * Why a kernel: the composable formulation — `transform(sequence(0,
  * size(toks)-n), i -> array_join(slice(toks, i+1, n), " "))` — pays
  * ~15 s of one-time lambda codegen per query AND evaluates ~10× slower
  * than a flat loop (the lambda-bound `slice` re-materializes per
  * element). Shingling sits under every MinHash signature scan, so it
  * must be a single tight pass per document.
  */
object WordShingleOps {
  def shingle(input: UTF8String, n: Int): ArrayData = {
    val text = input.toString
    // Locale.ROOT: locale-independent lowering, matching Spark's lower()
    // and DuckDB (default-locale toLowerCase breaks on e.g. Turkish I).
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split(" ")
    val out =
      // Docs shorter than n tokens yield NO shingles (they cannot
      // contain an n-gram) — same as the oracle's generate_series(1,
      // len-n+1), which emits nothing for short docs.
      if (toks.length < n) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        val sb = new java.lang.StringBuilder()
        while (i + n <= toks.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        val arr = new Array[String](seen.size)
        seen.toArray(arr)
        arr
      }
    new GenericArrayData(out.map(s => UTF8String.fromString(s): Any))
  }
}

/** ALL word n-gram shingles in document order, with multiplicity —
  * index i of the output array IS token start position i, so
  * `posexplode` over it yields the (position, gram) pairs a
  * repeated-span index is built from (the [[WordShingleOps.shingle]]
  * kernel dedups, destroying positions).
  */
object WordShingleAllOps {
  def shingleAll(input: UTF8String, n: Int): ArrayData = {
    val toks = input.toString.trim
      .toLowerCase(java.util.Locale.ROOT).split(" ")
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** ALL word bigrams of a lowercased, trimmed text, in order, with
  * MULTIPLICITY, as (w1, w2) struct pairs — the shape the bigram-LM tf
  * aggregate needs; the shingle kernel dedups and joins with spaces,
  * both wrong for conditional-probability counting.
  *
  * Why a kernel: the composable form — `transform(sequence(1,
  * size(toks)-1), i -> struct(element_at(toks, i), element_at(toks,
  * i+1)))` — is an interpreted higher-order function AND evaluates the
  * `split` three separate times per row (verified on the executed
  * plan). This tokenizes once per document in a flat loop. Measured on
  * the q_bigram_lm inventory query at sf0.1: 4.8 s → ~2 s.
  */
object WordBigramOps {
  def bigrams(input: UTF8String): ArrayData = {
    val toks = input.toString.trim
      .toLowerCase(java.util.Locale.ROOT).split(" ")
    if (toks.length < 2) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - 1)
      var i = 0
      while (i < toks.length - 1) {
        out(i) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](
            UTF8String.fromString(toks(i)),
            UTF8String.fromString(toks(i + 1))))
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Overlapping token-window chunks of a document — the RAG/embedding
  * prep step that splits long texts into bounded-token windows with
  * `overlap` tokens of context carried between neighbors. A pure
  * projection, so corpus chunking is an embarrassingly-parallel scan.
  */
object TokenChunkOps {
  /** Overlapping token-window chunks. Tokens are the trimmed text split
    * on single spaces (NO lowercasing — chunk text is payload, not a
    * canonical form). Chunk count: 1 if len <= size, else
    * (len - size + stride - 1) / stride + 1 with stride = size -
    * overlap — full coverage, short final chunk allowed, never a chunk
    * fully contained in its predecessor.
    */
  def chunk(input: UTF8String, size: Int, overlap: Int): ArrayData = {
    val toks = input.toString.trim.split(" ")
    val stride = size - overlap
    val len = toks.length
    val n = if (len <= size) 1 else (len - size + stride - 1) / stride + 1
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      val start = k * stride
      val end = math.min(start + size, len)
      val sb = new java.lang.StringBuilder()
      var i = start
      while (i < end) {
        if (i > start) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      out(k) = UTF8String.fromString(sb.toString)
      k += 1
    }
    new GenericArrayData(out)
  }
}

object TextExprs {
  import org.apache.spark.sql.GraftExpressionBridge.kernel

  private val strings = ArrayType(StringType, containsNull = false)

  /** Distinct word n-gram shingles as a Column. */
  def wordShingles(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    kernel("wordshingles", "graft.functions.WordShingleOps.shingle",
      strings, Seq(StringType), Seq(text), n)
  }

  /** All word n-gram shingles in positional order as a Column. */
  def wordShinglesAll(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    kernel("wordshinglesall", "graft.functions.WordShingleAllOps.shingleAll",
      strings, Seq(StringType), Seq(text), n)
  }

  /** All word bigrams (with multiplicity) as a Column. */
  def wordBigrams(text: Column): Column =
    kernel("wordbigrams", "graft.functions.WordBigramOps.bigrams",
      ArrayType(StructType(Seq(
        StructField("w1", StringType, nullable = false),
        StructField("w2", StringType, nullable = false))),
        containsNull = false),
      Seq(StringType), Seq(text))

  /** Overlapping token-window chunks as a Column. */
  def tokenChunks(text: Column, size: Int, overlap: Int): Column = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    kernel("tokenchunks", "graft.functions.TokenChunkOps.chunk",
      strings, Seq(StringType), Seq(text), size, overlap)
  }
}
