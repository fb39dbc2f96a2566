package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** A 24-bit BMP whose channel c ∈ {0=B, 1=G, 2=R} at top-down (x, y)
    * is `f(x, y, c)`.
    */
  private def bmp24(w: Int, h: Int, f: (Int, Int, Int) => Int): Array[Byte] =
    MediaCodec.encodeImage("bmp", MediaCodec.bgrImage(w, h, f))

  test("decodeMetadata: real format detect + header dims + content digest") {
    val bmp = bmp24(3, 2, (x, y, c) => x + y + c)
    val wav = MediaCodec.synthesizeWavPcm16(16000, Array(1, -2, 3))
    val media = Seq(
      (1L, "image", bmp), (2L, "audio", wav),
      (3L, "junk", Array[Byte](1, 2, 3)))
      .toDF("doc_id", "media_type", "payload").repartition(2)
    val out = Multimodal.decodeMetadata(spark, media)
    assert(out.columns.toSeq === Seq(
      "doc_id", "media_type", "format", "size_bytes", "width", "height",
      "channels", "checksum"))
    val rows = out.collect().map(r => r.doc_id -> r).toMap
    assert(rows(1L).format === "bmp")
    assert((rows(1L).width, rows(1L).height, rows(1L).channels) === ((3, 2, 3)))
    assert(rows(1L).size_bytes === bmp.length.toLong)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(bmp).map("%02x".format(_)).mkString
    assert(rows(1L).checksum === md5)
    assert(rows(2L).format === "wav")
    assert((rows(2L).width, rows(2L).height, rows(2L).channels) === ((0, 0, 1)))
    assert(rows(2L).size_bytes === (44 + 6).toLong)
    assert(rows(3L).format === "unknown")
    assert((rows(3L).width, rows(3L).channels) === ((0, 0)))
    // deterministic across runs
    val again = Multimodal.decodeMetadata(spark, media).collect()
      .map(r => r.doc_id -> r.checksum).toMap
    assert(again(2L) === rows(2L).checksum)
  }

  test("metadata-only reads never deserialize payload column (pruning-friendly schema)") {
    val media = Seq((1L, "image", MediaCodec.synthesizeBmp(2, 2)))
      .toDF("doc_id", "media_type", "payload")
    // payload is a separate top-level binary column -> parquet can prune it
    assert(media.schema("payload").dataType.typeName === "binary")
    assert(media.select("doc_id", "media_type").columns.length === 2)
  }

  test("MediaCodec parses golden BMP bytes (hand-written, not round-trip)") {
    // 14-byte file header + BITMAPINFOHEADER for a 2x3, 24bpp image.
    val golden = Array[Int](
      'B', 'M', 54, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
      40, 0, 0, 0,       // DIB size
      2, 0, 0, 0,        // width = 2
      3, 0, 0, 0,        // height = 3
      1, 0,              // planes
      24, 0,             // bpp
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0
    ).map(_.toByte)
    assert(MediaCodec.detect(golden) === "bmp")
    assert(MediaCodec.parseBmp(golden) === MediaCodec.BmpHeader(2, 3, 24))
  }

  test("codec surfaces survive arbitrary and mutated-header bytes: " +
    "IllegalArgument or clean result, never a crash class") {
    val rnd = new scala.util.Random(0xC0DEC)
    def poke(b: Array[Byte]): Unit = {
      def safe(body: => Any): Unit =
        try { body; () } catch { case _: IllegalArgumentException => () }
      MediaCodec.detect(b)
      safe(MediaCodec.decodeImage(b))
      safe(MediaCodec.decodeAudio(b))
      safe(MediaCodec.decodeVideoFrames(b))
      DecodeChecks.isDecodableImage(b)
      DecodeChecks.isDecodableAudio(b)
    }
    // pure noise, all sizes around the header boundaries
    for (_ <- 1 to 400) poke(Array.fill(rnd.nextInt(120))(rnd.nextInt().toByte))
    // valid magic + corrupted header/payload bytes: hits the deep
    // parse branches the random-magic path never reaches
    val seeds = Seq(
      bmp24(4, 3, (x, y, c) => x + y + c),
      MediaCodec.synthesizeWav(2, 8000),
      MediaCodec.synthesizeWavG711(8000,
        Array.tabulate(16)(i => i * 17 % 256), ulaw = true),
      MediaCodec.synthesizeVideo(
        Seq(bmp24(2, 2, (_, _, _) => 7))))
    for (seed <- seeds; _ <- 1 to 400) {
      val m = seed.clone()
      for (_ <- 0 to rnd.nextInt(4))
        m(rnd.nextInt(m.length)) = rnd.nextInt().toByte
      poke(m)
      poke(java.util.Arrays.copyOf(m, rnd.nextInt(m.length + 1)))
    }
    // DIRECTED extreme-size fuzz: random byte pokes almost never craft
    // a near-Int.MaxValue length field, which is exactly how the WAV
    // chunk-walk cursor wrap survived 400×4 random mutations — so
    // write each extreme 32-bit value into EVERY aligned u32 slot of
    // every seed explicitly.
    val extremes = Seq(0x7fffffff, 0x7ffffff0, 0x80000000, -1, -4, -8, 2, 3, 8)
    for (seed <- seeds; off <- 0 until (seed.length - 3) by 4;
         v <- extremes) {
      val m = seed.clone()
      m(off) = (v & 0xff).toByte
      m(off + 1) = ((v >> 8) & 0xff).toByte
      m(off + 2) = ((v >> 16) & 0xff).toByte
      m(off + 3) = ((v >> 24) & 0xff).toByte
      poke(m)
    }
  }

  test("decodeImage refuses hostile BMP header sizes before the JDK " +
    "reader allocates — not an allocation crash") {
    def hostile(off: Int, v: Int): Array[Byte] = {
      val b = MediaCodec.synthesizeBmp(2, 3)
      for (i <- 0 until 4) b(off + i) = ((v >> (8 * i)) & 0xff).toByte
      b
    }
    // width 800M: 3*width wraps negative in Int. Height Int.MinValue:
    // its absolute value is negative as an Int. Both are far over the
    // pixel cap once taken as Longs.
    for (b <- Seq(hostile(18, 800000000), hostile(22, Int.MinValue))) {
      val e = intercept[IllegalArgumentException](MediaCodec.decodeImage(b))
      assert(e.getMessage.contains("decode cap"), e.getMessage)
      assert(!DecodeChecks.isDecodableImage(b))
    }
    // what the JDK's reader would allocate before it reads: the 2 GB an
    // embedded-JPEG BMP (compression 4) declares; the raster of an RLE8
    // BMP (compression 1, image size 0, file size 2 GB), which no
    // payload length bounds; and the 62 MB raster of an uncompressed
    // 4×5,177,347 header inside the pixel cap that 54 bytes cannot fill
    val embedded = hostile(34, Int.MaxValue)
    embedded(30) = 4
    val rle = hostile(2, 0x7ffffff0)
    rle(30) = 1
    val headerOnly = MediaCodec.synthesizeBmp(4, 5177347)
    for ((b, why) <- Seq(embedded -> "compression 4", rle -> "compression 1",
      headerOnly -> "truncated: the pixel array ends at byte 62128218")) {
      val e = intercept[IllegalArgumentException](MediaCodec.decodeImage(b))
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("MediaCodec parses golden WAV bytes and round-trips synthesis") {
    // canonical mono 8000 Hz 16-bit header
    val golden = MediaCodec.synthesizeWav(1, 8000)
    assert(golden.length === 44)
    assert(new String(golden.slice(0, 4)) === "RIFF")
    assert(new String(golden.slice(8, 12)) === "WAVE")
    assert(MediaCodec.detect(golden) === "wav")
    assert(MediaCodec.parseWav(golden) === MediaCodec.WavHeader(1, 8000, 16))
    // multi-channel, odd rate
    val st = MediaCodec.synthesizeWav(2, 44100)
    assert(MediaCodec.parseWav(st) === MediaCodec.WavHeader(2, 44100, 16))
    // byte rate field = rate * channels * bits/8 (u32le @28)
    val byteRate = (st(28) & 0xff) | ((st(29) & 0xff) << 8) |
      ((st(30) & 0xff) << 16) | ((st(31) & 0xff) << 24)
    assert(byteRate === 44100 * 2 * 2)
  }

  test("MediaCodec parses golden PNG IHDR bytes and round-trips " +
    "synthesis with a valid CRC") {
    // hand-written signature + IHDR for a 1x2, 8-bit RGB image
    val golden = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 1,        // width = 1 (u32be)
      0, 0, 0, 2,        // height = 2
      8, 2, 0, 0, 0,     // depth, color=rgb, comp/filter/interlace
      0, 0, 0, 0         // CRC (unchecked by parser)
    ).map(_.toByte)
    assert(MediaCodec.detect(golden) === "png")
    assert(MediaCodec.parsePng(golden) === MediaCodec.PngHeader(1, 2, 8, 2))
    // round trip: every supported color type maps to its channel count
    for ((ct, ch) <- Seq(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)) {
      val h = MediaCodec.parsePng(MediaCodec.synthesizePng(512, 384, 8, ct))
      assert((h.width, h.height, h.channels) === ((512, 384, ch)))
    }
    // the synthesized IHDR CRC is the real CRC-32 over type+data
    val png = MediaCodec.synthesizePng(7, 9)
    val crc = new java.util.zip.CRC32
    crc.update(png, 12, 17)
    val stored = ((png(29) & 0xffL) << 24) | ((png(30) & 0xffL) << 16) |
      ((png(31) & 0xffL) << 8) | (png(32) & 0xffL)
    assert(stored === (crc.getValue & 0xffffffffL))
  }

  test("MediaCodec walks JPEG marker segments to SOF, skipping " +
    "non-frame segments and standalone markers") {
    val base = MediaCodec.synthesizeJpeg(320, 240, components = 3)
    assert(MediaCodec.detect(base) === "jpeg")
    assert(MediaCodec.parseJpeg(base) ===
      MediaCodec.JpegHeader(8, 320, 240, 3))
    // splice a COM segment and a DHT (0xC4 — NOT a frame marker)
    // between APP0 and SOF0: the walk must skip both
    val com = Array[Int](0xff, 0xfe, 0, 5, 'h', 'i', '!').map(_.toByte)
    val dht = Array[Int](0xff, 0xc4, 0, 4, 0, 0).map(_.toByte)
    val spliced = base.slice(0, 20) ++ com ++ dht ++ base.drop(20)
    assert(MediaCodec.parseJpeg(spliced) ===
      MediaCodec.JpegHeader(8, 320, 240, 3))
    // a stream with no SOF before EOI is malformed
    val noSof = Array[Int](0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    intercept[IllegalArgumentException](MediaCodec.parseJpeg(noSof))
  }

  test("parseMediaHeaders dispatches by magic and nulls unknown payloads") {
    val media = Seq(
      (1L, "image", MediaCodec.synthesizeBmp(640, 480)),
      (2L, "audio", MediaCodec.synthesizeWav(2, 16000)),
      (3L, "junk", Array[Byte](1, 2, 3)),
      (4L, "image", MediaCodec.synthesizeGif(99, 77, gctBits = 5)),
      (5L, "image", MediaCodec.synthesizeWebp(800, 600)),
      (6L, "image", MediaCodec.synthesizeWebp(321, 123, lossless = true)))
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.parseMediaHeaders(spark, media)
      .collect().map(p => p.doc_id -> p).toMap
    assert(out(1L).format === "bmp")
    assert(out(1L).width === Some(640) && out(1L).height === Some(480))
    assert(out(1L).channels === None)
    assert(out(2L).format === "wav")
    assert(out(2L).channels === Some(2) && out(2L).sample_rate === Some(16000))
    assert(out(2L).width === None)
    assert(out(3L).format === "unknown")
    assert(out(3L).width === None && out(3L).sample_rate === None)
    assert(out(4L).format === "gif")
    assert(out(4L).width === Some(99) && out(4L).height === Some(77))
    assert(out(4L).bits_per_pixel === Some(5)) // 2^5-entry palette index
    assert(out(5L).format === "webp")
    assert(out(5L).width === Some(800) && out(5L).height === Some(600))
    assert(out(5L).bits_per_pixel === None)
    assert(out(6L).format === "webp")
    assert(out(6L).width === Some(321) && out(6L).height === Some(123))
  }

  test("MediaCodec parses golden GIF bytes and round-trips synthesis") {
    // hand-written GIF89a LSD: 3x2, GCT of 4 entries, color res 2
    val golden = (Array[Int]('G', 'I', 'F', '8', '9', 'a',
      3, 0,              // width u16le
      2, 0,              // height u16le
      0x80 | (1 << 4) | 1, // GCT flag, colorRes-1=1, size field 1 -> 4
      0, 0).map(_.toByte)
      ++ new Array[Byte](3 * 4) ++ Array(0x3b.toByte))
    assert(MediaCodec.detect(golden) === "gif")
    assert(MediaCodec.parseGif(golden) === MediaCodec.GifHeader(3, 2, 4, 2))
    assert(MediaCodec.parseGif(golden).indexBits === 2)
    // no-GCT variant: entries 0, index depth 0
    val noGct = golden.clone(); noGct(10) = (1 << 4).toByte
    assert(MediaCodec.parseGif(noGct) === MediaCodec.GifHeader(3, 2, 0, 2))
    assert(MediaCodec.parseGif(noGct).indexBits === 0)
    for (bits <- 1 to 8) {
      val h = MediaCodec.parseGif(MediaCodec.synthesizeGif(256, 200, bits))
      assert((h.width, h.height, h.gctEntries, h.indexBits) ===
        ((256, 200, 1 << bits, bits)))
    }
  }

  test("MediaCodec parses WebP VP8X and bit-packed VP8L headers") {
    // hand-written VP8X: canvas 16384x2 (u24le width-1 = 0x3FFF)
    val goldenX = (Array[Int]('R', 'I', 'F', 'F', 22, 0, 0, 0,
      'W', 'E', 'B', 'P', 'V', 'P', '8', 'X', 10, 0, 0, 0,
      0, 0, 0, 0,        // flags + reserved
      0xff, 0x3f, 0,     // width-1  u24le
      1, 0, 0).map(_.toByte))
    assert(MediaCodec.detect(goldenX) === "webp")
    assert(MediaCodec.parseWebp(goldenX) ===
      MediaCodec.WebpHeader("vp8x", 16384, 2))
    // hand-written VP8L: 0x2F then (w-1)|((h-1)<<14) over 32 bits le;
    // 5x3 -> v = 4 | (2<<14) = 0x8004
    val goldenL = (Array[Int]('R', 'I', 'F', 'F', 18, 0, 0, 0,
      'W', 'E', 'B', 'P', 'V', 'P', '8', 'L', 5, 0, 0, 0,
      0x2f, 0x04, 0x80, 0, 0, 0).map(_.toByte))
    assert(MediaCodec.parseWebp(goldenL) ===
      MediaCodec.WebpHeader("vp8l", 5, 3))
    // round trips at the 14-bit boundary and a nonzero-version reject
    for ((w, h) <- Seq((1, 1), (16384, 16384), (1024, 768))) {
      assert(MediaCodec.parseWebp(MediaCodec.synthesizeWebp(w, h, lossless = true)) ===
        MediaCodec.WebpHeader("vp8l", w, h))
      assert(MediaCodec.parseWebp(MediaCodec.synthesizeWebp(w, h)) ===
        MediaCodec.WebpHeader("vp8x", w, h))
    }
    val badVer = goldenL.clone(); badVer(24) = 0x20 // version bits != 0
    intercept[IllegalArgumentException](MediaCodec.parseWebp(badVer))
    intercept[IllegalArgumentException](MediaCodec.synthesizeWebp(20000, 1, lossless = true))
  }

  test("PCM16 round-trip is byte-exact and the decoder chunk-walks " +
    "past inserted chunks") {
    val samples = Array(0, 1, -1, 32767, -32768, 12345, -12345)
    val wav = MediaCodec.synthesizeWavPcm16(8000, samples)
    assert(MediaCodec.decodeAudio(wav).toList === samples.toList)
    // splice a LIST chunk (odd size -> pad byte) between fmt and data
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 9, 9, 9, 0)
    val spliced = wav.take(36) ++ extra ++ wav.drop(36)
    // fix RIFF size
    val b = spliced.clone()
    val riff = 36 + extra.length + samples.length * 2
    b(4) = (riff & 0xff).toByte; b(5) = ((riff >> 8) & 0xff).toByte
    b(6) = ((riff >> 16) & 0xff).toByte; b(7) = ((riff >> 24) & 0xff).toByte
    assert(MediaCodec.decodeAudio(b).toList === samples.toList)
  }

  test("audioEnergy: exact integer moments and quantized RMS") {
    val samples = Array(3, -4, 0, 12)
    val media = Seq((7L, "audio",
      MediaCodec.synthesizeWavPcm16(16000, samples)))
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.audioEnergy(spark, media)
      .as[(Long, Long, Long, Long, Long)].head()
    // sum_sq = 9+16+0+144 = 169; rms = sqrt(169/4) = 6.5
    assert(out === ((7L, 4L, 12L, 169L, 6500000L)))
  }

  test("BMP24 round-trip: bottom-up rows, padding, BGR all inverted " +
    "correctly; resize hits the exact source pixels") {
    // 3x2 -> rowBytes = 12 (9 data + 3 pad): padding exercised
    def f(x: Int, y: Int, c: Int): Int = 100 * c + 10 * y + x
    val bmp = bmp24(3, 2, f)
    val img = MediaCodec.decodeImage(bmp)
    assert((img.width, img.height) === ((3, 2)))
    for (y <- 0 until 2; x <- 0 until 3; c <- 0 until 3)
      assert(img(x, y, c) === f(x, y, c), s"($x,$y,$c)")
    // resize 3x2 -> 2x1: srcX = x*3/2 in {0,1}, srcY = 0
    val media = Seq((1L, "image", bmp)).toDF("doc_id", "media_type", "payload")
    val st = Multimodal.imageResizeStats(spark, media, 2, 1).head()
    // pixels sampled: (0,0),(1,0) -> per channel c: f(0,0,c)+f(1,0,c)
    assert(st.b_sum === (f(0, 0, 0) + f(1, 0, 0)).toLong)
    assert(st.g_sum === (f(0, 0, 1) + f(1, 0, 1)).toLong)
    assert(st.r_sum === (f(0, 0, 2) + f(1, 0, 2)).toLong)
    assert(st.px_min === 0L && st.px_max === 201L)
  }

  test("BMP decodes through the colour model: a top-down BMP equals " +
    "its bottom-up twin, and an 8-bit palette BMP is looked up") {
    def f(x: Int, y: Int, c: Int): Int = 100 * c + 10 * y + x
    val bottomUp = bmp24(3, 2, f)
    // the top-down twin: the same rows in stored order reversed, and
    // the height negated (rows are 12 bytes: 9 of pixels, 3 of padding)
    val topDown = bottomUp.clone()
    for (r <- 0 until 2)
      System.arraycopy(bottomUp, 54 + (1 - r) * 12, topDown, 54 + r * 12, 12)
    for (i <- 0 until 4) topDown(22 + i) = ((-2 >> (8 * i)) & 0xff).toByte
    assert(MediaCodec.parseBmp(topDown).height === -2)
    val a = MediaCodec.decodeImage(bottomUp)
    val b = MediaCodec.decodeImage(topDown)
    assert((b.width, b.height) === ((3, 2)))
    assert(b.pixels.toList === a.pixels.toList)
    // 8 bits per pixel (more than 16 entries) over a palette whose
    // entry i is (R, G, B) = (3i, 5i, 7i)
    val pal = Array.tabulate(20)(i => (3 * i << 16) | (5 * i << 8) | 7 * i)
    val indexed = MediaCodec.encodeImage("bmp",
      MediaCodec.indexedImage(4, 3, pal, (x, y) => (x + 4 * y) % 20))
    assert(MediaCodec.parseBmp(indexed).bitsPerPixel === 8)
    val img = MediaCodec.decodeImage(indexed)
    for (y <- 0 until 3; x <- 0 until 4) {
      val i = (x + 4 * y) % 20
      assert((img(x, y, 0), img(x, y, 1), img(x, y, 2)) ===
        ((7 * i, 5 * i, 3 * i)), s"($x,$y)")
    }
  }

  test("GVID container round-trips frames; stride sampling keeps " +
    "exactly the even frames") {
    def frame(f: Int) = bmp24(2, 2,
      (x, y, c) => (f * 50 + 10 * y + x + c) % 256)
    val vid = MediaCodec.synthesizeVideo((0 until 5).map(frame))
    val back = MediaCodec.decodeVideoFrames(vid)
    assert(back.length === 5)
    (0 until 5).foreach(f => assert(back(f).toList === frame(f).toList))
    val media = Seq((9L, "video", vid)).toDF("doc_id", "media_type", "payload")
    val out = Multimodal.videoFrameStats(spark, media, stride = 2)
      .collect().map(r => r.frame_idx).sorted.toList
    assert(out === List(0L, 2L, 4L))
  }

  test("truncated/corrupt payloads fail loudly in the decoders and " +
    "route to honest fallbacks in the operators") {
    // header-only BMP (valid magic, no pixel array): not decodable,
    // decode refuses with a clear message instead of AIOOBE
    val headerOnly = MediaCodec.synthesizeBmp(4, 3)
    assert(!DecodeChecks.isDecodableImage(headerOnly))
    val e1 = intercept[IllegalArgumentException](
      MediaCodec.decodeImage(headerOnly))
    assert(e1.getMessage.contains("truncated"), e1.getMessage)
    val full = bmp24(4, 3, (x, y, c) => x + y + c)
    assert(DecodeChecks.isDecodableImage(full))
    // truncated GVID: in-bounds magic, frame length past the end
    val vid = MediaCodec.synthesizeVideo(
      Seq(bmp24(2, 2, (_, _, _) => 1)))
    val cut = java.util.Arrays.copyOf(vid, vid.length - 3)
    val e2 = intercept[IllegalArgumentException](
      MediaCodec.decodeVideoFrames(cut))
    assert(e2.getMessage.contains("truncated"))
    // truncated WAV data chunk
    val wav = MediaCodec.synthesizeWavPcm16(8000, Array(1, -2, 3, -4))
    val wcut = java.util.Arrays.copyOf(wav, wav.length - 2)
    assert(DecodeChecks.isDecodableAudio(wav) && !DecodeChecks.isDecodableAudio(wcut))
    val e3 = intercept[IllegalArgumentException](
      MediaCodec.decodeAudio(wcut))
    assert(e3.getMessage.contains("truncated"))
    // operator surface: the metadata inventory reads headers only, so
    // all three route to header-level rows — no task death
    val media = Seq(
      (1L, "image", headerOnly), (2L, "video", cut), (3L, "audio", wcut))
      .toDF("doc_id", "media_type", "payload")
    val meta = Multimodal.decodeMetadata(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    assert(meta.size === 3)
    assert((meta(1L).format, meta(1L).width, meta(1L).height) === (("bmp", 4, 3)))
    assert((meta(3L).format, meta(3L).channels) === (("wav", 1)))
  }
}
