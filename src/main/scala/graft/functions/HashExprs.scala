package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** First 60 bits of md5(input) as an unsigned long — bit-identical to
  * `conv(substring(md5(s), 1, 15), 16, 10)` (and DuckDB's
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`), the portable base hash of
  * the oracle-checkable MinHash/SimHash family.
  *
  * Why a kernel: the composable form materializes a 32-char hex string
  * per shingle, substrings it, then PARSES it back through radix
  * conversion — three string allocations on the innermost loop of
  * every signature scan. This reads the digest bytes directly: first 8
  * bytes big-endian >>> 4 == the first 15 hex nibbles.
  * MessageDigest is not thread-safe → one instance per task thread.
  */
object Md5Ops {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def prefix60(bytes: Array[Byte]): Long = {
    val d = md.get().digest(bytes)
    val first8 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    first8 >>> 4
  }

  def prefix60(s: UTF8String): Long = prefix60(s.getBytes)
}

object HashExprs {
  import org.apache.spark.sql.GraftExpressionBridge.{kernel, stringOrBinaryInput}

  /** `md5_prefix60(s)` as a Column, over a string or binary `s`. */
  def md5Prefix60(s: Column): Column =
    kernel("md5prefix60", "graft.functions.Md5Ops.prefix60", LongType,
      Seq(stringOrBinaryInput), Seq(s))
}
