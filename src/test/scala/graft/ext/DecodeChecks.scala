package graft.ext

/** Spec predicates over the decoders: true iff the full decode succeeds
  * on `b`. A header can be valid while the pixel or sample data is not,
  * so only decoding proves a payload whole; every decode fault is an
  * IllegalArgumentException.
  */
object DecodeChecks {
  private def decodes(decode: => Any): Boolean =
    try { decode; true }
    catch { case _: IllegalArgumentException => false }

  def isDecodableImage(b: Array[Byte]): Boolean = decodes(MediaCodec.decodeImage(b))
  def isDecodableAudio(b: Array[Byte]): Boolean = decodes(MediaCodec.decodeAudio(b))
  def isDecodableWebp(b: Array[Byte]): Boolean = decodes(VP8LCodec.decode(b))
}
