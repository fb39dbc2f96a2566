package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** WAV sample decode: G.711 μ-law / A-law checked over ALL 256 code
  * bytes against the ITU-T closed-form expansions below (independent
  * of the JDK converter that [[MediaCodec.decodeAudio]] runs), plus the
  * WAV-container dispatch and fault contract.
  */
class G711Spec extends AnyFunSuite {

  /** ITU-T G.711 μ-law expansion: code byte → 16-bit linear PCM. */
  private def ulawToPcm(code: Int): Int = {
    val v = ~code & 0xff
    var t = ((v & 0x0f) << 3) + 0x84
    t <<= (v & 0x70) >> 4
    if ((v & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law expansion: code byte → 16-bit linear PCM. */
  private def alawToPcm(code: Int): Int = {
    val a = (code ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
    for (i <- 0 until 4) b(off + i) = ((v >> (8 * i)) & 0xff).toByte

  test("all 256 mu-law codes decode EXACTLY to the ITU-T closed-form " +
    "expansion — independent reference, zero tolerance") {
    val codes = Array.tabulate(256)(identity)
    val wav = MediaCodec.synthesizeWavG711(8000, codes, ulaw = true)
    assert(MediaCodec.detect(wav) === "wav")
    val got = MediaCodec.decodeAudio(wav)
    assert(got.length === 256)
    for (i <- 0 until 256)
      assert(got(i) === ulawToPcm(i), s"ulaw code $i")
  }

  test("all 256 A-law codes decode EXACTLY to the ITU-T closed-form " +
    "expansion — independent reference, zero tolerance") {
    val codes = Array.tabulate(256)(identity)
    val wav = MediaCodec.synthesizeWavG711(8000, codes, ulaw = false)
    val got = MediaCodec.decodeAudio(wav)
    assert(got.length === 256)
    for (i <- 0 until 256)
      assert(got(i) === alawToPcm(i), s"alaw code $i")
  }

  test("decodeAudio dispatches PCM16 and both G.711 variants through " +
    "one shape; non-audio format tags reject clearly") {
    val pcm = MediaCodec.synthesizeWavPcm16(16000,
      Array.tabulate(50)(i => i * 100 - 2500))
    assert(DecodeChecks.isDecodableAudio(pcm))
    assert(MediaCodec.decodeAudio(pcm).length === 50)
    val codes = Array.tabulate(30)(i => (i * 17) % 256)
    val ulaw = MediaCodec.synthesizeWavG711(8000, codes, ulaw = true)
    assert(DecodeChecks.isDecodableAudio(ulaw))
    assert(MediaCodec.decodeAudio(ulaw).toList === codes.map(ulawToPcm).toList)
    val alaw = MediaCodec.synthesizeWavG711(8000,
      Array.tabulate(30)(i => (i * 29) % 256), ulaw = false)
    assert(MediaCodec.decodeAudio(alaw).length === 30)
    // an ADPCM format tag (0x11) is honestly undecodable
    val adpcm = ulaw.clone()
    adpcm(20) = 0x11
    assert(!DecodeChecks.isDecodableAudio(adpcm))
    val e = intercept[IllegalArgumentException](MediaCodec.decodeAudio(adpcm))
    assert(e.getMessage.contains("unsupported format"), e.getMessage)
  }

  test("truncated G.711 data chunks fail as data faults and gate " +
    "false — untrusted corpus bytes contract") {
    for (ulaw <- Seq(true, false)) {
      val wav = MediaCodec.synthesizeWavG711(8000,
        Array.tabulate(100)(i => (i * 13) % 256), ulaw)
      // the data chunk claims 100 bytes: 36 remain, then 86, and a
      // claim of 0x7ffffff0 bytes over the full 100
      val huge = wav.clone()
      putLe32(huge, 40, 0x7ffffff0)
      for (cut <- Seq(wav.take(80), wav.dropRight(14), huge)) {
        assert(MediaCodec.detect(cut) === "wav")
        assert(!DecodeChecks.isDecodableAudio(cut), s"ulaw=$ulaw")
        val e = intercept[IllegalArgumentException](MediaCodec.decodeAudio(cut))
        assert(e.getMessage.contains("truncated data chunk"), e.getMessage)
      }
    }
  }

  test("a G.711 frame larger than the data chunk ends the read instead " +
    "of spinning in the JDK's converter") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val wav = MediaCodec.synthesizeWavG711(8000,
      Array.tabulate(64)(i => (i * 13) % 256), ulaw = true)
    // 7169 channels: one frame is 7169 bytes, so the 64-byte chunk
    // holds no frame, and the converter's read returns 0 for ever
    wav(22) = 0x01; wav(23) = 0x1c
    val decoded = Future(MediaCodec.decodeAudio(wav))(ExecutionContext.global)
    assert(Await.result(decoded, 60.seconds).isEmpty)
  }

  test("WAV encodings outside 16-bit PCM and 8-bit G.711 are refused, " +
    "although the JDK reads them") {
    /** A mono 8 kHz WAV with format `tag`, `bits` per sample and `data`. */
    def wav(tag: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
      val b = MediaCodec.synthesizeWav(1, 8000, bits) ++ data
      b(20) = tag.toByte
      putLe32(b, 4, 36 + data.length)
      putLe32(b, 40, data.length)
      b
    }
    val data = Array.tabulate[Byte](48)(i => (i * 37).toByte)
    // 8- and 24-bit PCM get past the JDK's WAV reader, so the refusal
    // names the format it parsed; IEEE float (tag 3), which AudioSystem
    // reads through its float WAV reader, is refused by the WAV reader
    for ((b, why) <- Seq(
      wav(1, 8, data) -> "no sample decoder for PCM_UNSIGNED 8000.0 Hz, 8 bit",
      wav(1, 24, data) -> "no sample decoder for PCM_SIGNED 8000.0 Hz, 24 bit",
      wav(3, 32, data) -> "wav: unsupported format")) {
      assert(!DecodeChecks.isDecodableAudio(b), why)
      val e = intercept[IllegalArgumentException](MediaCodec.decodeAudio(b))
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  /** Overwrite the fmt chunk header with a junk id and a size near
    * Int.MaxValue: a chunk walk must run off the end of the payload,
    * not wrap back inside it.
    */
  private def nearMaxChunk(wav: Array[Byte]): Array[Byte] = {
    val evil = wav.clone()
    evil(12) = 'J'; evil(13) = 'U'; evil(14) = 'N'; evil(15) = 'K'
    putLe32(evil, 16, Int.MaxValue - 15)
    evil
  }

  test("a chunk size near Int.MaxValue cannot wrap the cursor back " +
    "into the buffer — gates false, decodes fail as data faults") {
    val g711 = nearMaxChunk(MediaCodec.synthesizeWavG711(8000,
      Array.tabulate(64)(i => (i * 13) % 256), ulaw = true))
    assert(MediaCodec.detect(g711) === "wav")
    assert(!DecodeChecks.isDecodableAudio(g711))
    val e1 = intercept[IllegalArgumentException](MediaCodec.decodeAudio(g711))
    assert(e1.getMessage.contains("unsupported format"), e1.getMessage)

    val pcm = nearMaxChunk(MediaCodec.synthesizeWavPcm16(16000,
      Array.tabulate(64)(i => i * 100 - 3200)))
    assert(!DecodeChecks.isDecodableAudio(pcm))
    val e2 = intercept[IllegalArgumentException](MediaCodec.decodeAudio(pcm))
    assert(e2.getMessage.contains("unsupported format"), e2.getMessage)
  }
}
