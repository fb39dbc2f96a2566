package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** VP8L (lossless WebP) codec: EXACT conformance against libwebp —
  * the fixtures under `src/test/resources/webp/` were produced by
  * `WebPEncodeLosslessRGB(A)` (libwebp 1.x, see MANIFEST.txt) from
  * the pixel formulas mirrored below, and the format is lossless, so
  * every pixel must match with ZERO tolerance. The fixture set
  * exercises the full decoder: predictor/color/subtract-green
  * transforms, color-indexing with sub-byte bundling, LZ77 backward
  * references, color cache, meta prefix codes, 1-wide/1-tall edge
  * geometry, and alpha channels (dropped). Self-roundtrips and the
  * untrusted-bytes fault contract close the loop; the encoder's
  * conformance against libwebp's DECODER is checked by
  * `tools/webp_conformance.py` (driver-side, ctypes).
  */
class VP8LCodecSpec extends AnyFunSuite {

  // ---- the EXACT generator formulas the fixtures were built from ----
  private def formula(name: String, x: Int, y: Int, c: Int): Int =
    name match {
      case "gradient" => (x * 3 + y * 5 + c * 7) % 256
      case "blocks" => ((x / 4) * 50 + (y / 4) * 80 + c * 30) % 256
      case "palette" =>
        val v = Seq((10, 200, 60), (250, 30, 90), (5, 5, 5),
          (180, 180, 0))((x / 3 + y / 2) % 4)
        c match { case 0 => v._1; case 1 => v._2; case _ => v._3 }
      case "noise" => (x * 97 + y * 61 + c * 41 + x * y * 13) % 256
      case "stripes" =>
        c match {
          case 0 => (y * 37) % 256
          case 1 => (y * 91) % 256
          case _ => (y * 53) % 256
        }
      case "bigmix" =>
        if (y < 24) (x * 3 + y * 5 + c * 7) % 256
        else if ((x + y) % 3 != 0) ((x / 4) * 50 + (y / 4) * 80 + c * 30) % 256
        else (x * 97 + y * 61 + c * 41) % 256
      case "noisebig" => (x * 97 + y * 61 + c * 41 + x * y * 13) % 256
      case "pal200" =>
        val i = (x * 7 + y * 11) % 200
        c match {
          case 0 => (i * 37) % 256
          case 1 => (i * 59) % 256
          case _ => (i * 83) % 256
        }
      case "photo" =>
        val base = (x * 2 + y * 3) % 256
        val tex = ((x * x + y * y) / 7) % 32
        (base + tex + c * 9) % 256
      case "quad" => // four regions with different statistics
        if (x < 100 && y < 80) (x * 97 + y * 61 + c * 41 + x * y * 13) % 256
        else if (x >= 100 && y < 80) (x * 3 + y * 5 + c * 7) % 256
        else if (x < 100) ((x / 8) * 60 + (y / 8) * 90 + c * 30) % 256
        else (y * 37 + c * 53) % 256
      case "meta2" => // hand-built META-PREFIX stream (2 htree groups,
        // libwebp-validated at generation time; see MANIFEST)
        val pos = y * 64 + x
        if (x < 32)
          c match { case 0 => pos & 0xff; case 1 => 0; case _ => pos >> 8 }
        else c match { case 0 => 0xaa; case 1 => 0; case _ => 0x55 }
      case other => fail(s"unknown formula $other")
    }

  private def fixtures: Seq[(String, String, Int, Int, Boolean)] = {
    val dir = new java.io.File(getClass.getResource("/webp").toURI)
    val src = scala.io.Source.fromFile(new java.io.File(dir, "MANIFEST.txt"))
    try src.getLines().filterNot(_.startsWith("#")).map { ln =>
      val Array(fn, name, w, h, a) = ln.trim.split(" ")
      (fn, name, w.toInt, h.toInt, a == "1")
    }.toList
    finally src.close()
  }

  private def fixtureBytes(fn: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      new java.io.File(
        new java.io.File(getClass.getResource("/webp").toURI), fn).toPath)

  test("every libwebp-encoded fixture decodes PIXEL-EXACTLY to its " +
    "generator formula — cross-implementation, zero tolerance") {
    val fx = fixtures
    assert(fx.size >= 15)
    fx.foreach { case (fn, name, w, h, _) =>
      val bytes = fixtureBytes(fn)
      assert(MediaCodec.detect(bytes) === "webp", fn)
      assert(DecodeChecks.isDecodableWebp(bytes), fn)
      val img = VP8LCodec.decode(bytes)
      assert(img.width === w && img.height === h, fn)
      for (y <- 0 until h; x <- 0 until w) {
        // Bmp24 channel order: 0 = B, 1 = G, 2 = R; formula c: 0 = R
        assert(img(x, y, 2) === formula(name, x, y, 0), s"$fn R ($x,$y)")
        assert(img(x, y, 1) === formula(name, x, y, 1), s"$fn G ($x,$y)")
        assert(img(x, y, 0) === formula(name, x, y, 2), s"$fn B ($x,$y)")
      }
    }
  }

  test("our encodes roundtrip BIT-EXACTLY through our decoder") {
    for ((w, h) <- Seq((1, 1), (8, 5), (9, 6), (23, 17), (40, 1), (1, 30))) {
      def v(x: Int, y: Int, c: Int): Int = (x * 13 + y * 31 + c * 77) % 256
      val webp = VP8LCodec.encode(w, h, v)
      assert(MediaCodec.detect(webp) === "webp", s"${w}x$h")
      val parsed = MediaCodec.parseWebp(webp)
      assert(parsed.variant === "vp8l" &&
        parsed.width === w && parsed.height === h)
      val img = VP8LCodec.decode(webp)
      assert(img.width === w && img.height === h)
      for (y <- 0 until h; x <- 0 until w) {
        assert(img(x, y, 2) === v(x, y, 0), s"(${w}x$h) R ($x,$y)")
        assert(img(x, y, 1) === v(x, y, 1), s"(${w}x$h) G ($x,$y)")
        assert(img(x, y, 0) === v(x, y, 2), s"(${w}x$h) B ($x,$y)")
      }
    }
  }

  test("byte-fuzzed streams NEVER escape as AIOOBE/OOM — every fault " +
    "is an IllegalArgumentException (untrusted corpus bytes contract)") {
    val rnd = new scala.util.Random(0x77ebL)
    // fuzz BOTH a libwebp stream (transforms + LZ77 + cache paths)
    // and one of ours (literal path)
    val bases = Seq(
      fixtureBytes("bigmix_96x64.webp"),
      VP8LCodec.encode(24, 16, (x, y, c) => (x * 7 + y * 5 + c * 3) % 256))
    bases.foreach { base =>
      for (trial <- 1 to 200) {
        val mutated = base.clone()
        val flips = 1 + rnd.nextInt(4)
        for (_ <- 0 until flips)
          mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        try { VP8LCodec.decode(mutated); () }
        catch {
          case _: IllegalArgumentException => () // the contract
          case e: Throwable =>
            fail(s"trial $trial escaped with ${e.getClass.getName}: " +
              s"${e.getMessage}")
        }
        val cut = base.take(1 + rnd.nextInt(base.length - 1))
        try { VP8LCodec.decode(cut); () }
        catch {
          case _: IllegalArgumentException => ()
          case e: Throwable =>
            fail(s"truncation trial $trial escaped with " +
              e.getClass.getName)
        }
      }
      // Directed extreme u32le values in every aligned slot (RIFF
      // chunk lengths live here): random pokes almost never craft the
      // near-Int.MaxValue length that wrapped the WAV walk cursor.
      for (off <- 0 until (base.length - 3) by 4;
           v <- Seq(0x7fffffff, 0x7ffffff0, 0x80000000, -1, 2, 3, 8)) {
        val m = base.clone()
        m(off) = (v & 0xff).toByte
        m(off + 1) = ((v >> 8) & 0xff).toByte
        m(off + 2) = ((v >> 16) & 0xff).toByte
        m(off + 3) = ((v >> 24) & 0xff).toByte
        try { VP8LCodec.decode(m); () }
        catch {
          case _: IllegalArgumentException => ()
          case e: Throwable =>
            fail(s"extreme-u32 at $off escaped with ${e.getClass.getName}")
        }
      }
    }
  }

  test("hostile dimensions refuse at the decode cap before entropy " +
    "decode; lossy VP8 and header-only payloads reject clearly") {
    // 16383x16383 in the 14-bit dim fields ≈ 268 M pixels > 2^25 cap
    val webp = VP8LCodec.encode(4, 4, (_, _, _) => 0)
    // dims live in the first 28 bits after the 0x2f signature at
    // offset 20: set all of bytes 21..24 → w = h = 16384
    for (d <- 21 to 24) webp(d) = 0xff.toByte
    val e = intercept[IllegalArgumentException](VP8LCodec.decode(webp))
    assert(e.getMessage.contains("decode cap") ||
      e.getMessage.contains("version"), e.getMessage)
    // a lossy "VP8 " chunk must name the unsupported encoding
    val lossy = VP8LCodec.encode(4, 4, (_, _, _) => 0)
    lossy(15) = ' ' // "VP8L" → "VP8 "
    val e2 = intercept[IllegalArgumentException](VP8LCodec.decode(lossy))
    assert(e2.getMessage.contains("lossy"), e2.getMessage)
    // header-only synthesizeWebp (no pixel data)
    val headerOnly = MediaCodec.synthesizeWebp(32, 20, lossless = true)
    assert(MediaCodec.detect(headerOnly) === "webp")
    assert(!DecodeChecks.isDecodableWebp(headerOnly))
  }

  test("decodeImage/isDecodableImage dispatch WebP through the " +
    "unified shape beside BMP, JPEG, PNG and GIF") {
    val webp = VP8LCodec.encode(6, 4, (x, y, c) => (x + y * 2 + c) % 256)
    assert(DecodeChecks.isDecodableImage(webp))
    val img = MediaCodec.decodeImage(webp)
    assert(img.width === 6 && img.height === 4)
    assert(img(3, 2, 2) === (3 + 2 * 2 + 0) % 256) // R = c 0
  }
}
