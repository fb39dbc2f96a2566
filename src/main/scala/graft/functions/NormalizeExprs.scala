package graft.functions

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-normalization and text-quality kernels (a Scala UDF here
  * would break whole-stage codegen under every curation scan).
  */
object NormalizeOps {
  /** Unicode NFC normalization (compose combining sequences) — the
    * canonical-form step every dedup/fingerprint pipeline needs before
    * hashing, or visually-identical documents hash apart.
    */
  def nfc(input: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(
        input.toString, java.text.Normalizer.Form.NFC))

  /** NFD-decompose then drop combining marks (the portable
    * `strip_accents` definition DuckDB implements).
    */
  def stripAccents(input: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(
      input.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (java.lang.Character.getType(c) != java.lang.Character.NON_SPACING_MARK)
        sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Repair double-encoded UTF-8 ("mojibake": UTF-8 bytes read back as
    * Latin-1, the classic `cafÃ©`). The reinterpretation (re-encode as
    * Latin-1, re-decode as UTF-8) is applied ONLY when it is provably
    * lossless: every char fits Latin-1 AND the resulting bytes decode
    * as strict UTF-8. Pure ASCII round-trips to itself; genuine
    * accented text (e.g. a real `é`) fails strict UTF-8 decode and is
    * left untouched — the guard makes the fix idempotent and safe to
    * run corpus-wide. Run it before hashing/dedup, or the same document
    * in clean and mojibake forms dedups apart.
    */
  def fixMojibake(input: UTF8String): UTF8String = {
    val s = input.toString
    // fast path: nothing above ASCII -> nothing to reinterpret
    var i = 0
    var hasHigh = false
    while (i < s.length && !hasHigh) {
      if (s.charAt(i) >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return input
    // chars beyond Latin-1 cannot be a Latin-1 misread; leave as-is
    i = 0
    while (i < s.length) {
      if (s.charAt(i) > 0xFF) return input
      i += 1
    }
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) { bytes(i) = s.charAt(i).toByte; i += 1 }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try UTF8String.fromString(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => input }
  }

  /** Shannon entropy in bits over Unicode code points — a cheap
    * quality signal: machine-generated or binary-ish junk sits far from
    * natural-language entropy bands. The exact
    * `log2(n) - sum(c*log2(c))/n` form needs one log per DISTINCT
    * character; terms are accumulated in ascending code-point order so
    * the float summation order is fixed (callers still round before
    * cross-engine comparison — a different engine sums in its own
    * order).
    */
  def charEntropy(input: UTF8String): Double = {
    val s = input.toString
    if (s.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += java.lang.Character.charCount(cp)
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      acc += c * (math.log(c) / math.log(2.0))
    }
    math.log(n.toDouble) / math.log(2.0) - acc / n
  }
}

object NormalizeExprs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftExpressionBridge.kernel

  def nfc(c: Column): Column = kernel("nfcnormalize",
    "graft.functions.NormalizeOps.nfc", StringType, Seq(StringType), Seq(c))
  def stripAccents(c: Column): Column = kernel("stripaccents",
    "graft.functions.NormalizeOps.stripAccents", StringType, Seq(StringType), Seq(c))
  def charEntropy(c: Column): Column = kernel("charentropy",
    "graft.functions.NormalizeOps.charEntropy", DoubleType, Seq(StringType), Seq(c))
  def fixMojibake(c: Column): Column = kernel("fixmojibake",
    "graft.functions.NormalizeOps.fixMojibake", StringType, Seq(StringType), Seq(c))
}
