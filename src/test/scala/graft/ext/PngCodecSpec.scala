package graft.ext

import java.awt.image.{BufferedImage, IndexColorModel}
import org.scalatest.funsuite.AnyFunSuite

/** PNG through [[MediaCodec.decodeImage]] (ImageIO underneath): EXACT
  * roundtrips — the format is lossless, so there is NO tolerance
  * anywhere — across color types, palette bit depths and Adam7
  * interlace, and the untrusted-bytes fault contract. Fixtures are
  * written by [[MediaCodec.encodeImage]].
  */
class PngCodecSpec extends AnyFunSuite {

  private def png(img: BufferedImage, interlaced: Boolean = false) =
    MediaCodec.encodeImage("png", img, interlaced)

  /** Recompute the IHDR chunk's CRC after a patch of its fields. */
  private def reCrcIhdr(b: Array[Byte]): Unit = {
    val crc = new java.util.zip.CRC32
    crc.update(b, 12, 17)
    val cv = crc.getValue.toInt
    b(29) = (cv >>> 24).toByte; b(30) = (cv >>> 16).toByte
    b(31) = (cv >>> 8).toByte; b(32) = cv.toByte
  }

  private def assertExactVsImageIo(
      mine: MediaCodec.Bmp24, ref: BufferedImage): Unit = {
    assert(mine.width === ref.getWidth && mine.height === ref.getHeight)
    for (y <- 0 until mine.height; x <- 0 until mine.width) {
      val rgb = ref.getRGB(x, y)
      assert(mine(x, y, 2) === ((rgb >> 16) & 0xff), s"R at ($x,$y)")
      assert(mine(x, y, 1) === ((rgb >> 8) & 0xff), s"G at ($x,$y)")
      assert(mine(x, y, 0) === (rgb & 0xff), s"B at ($x,$y)")
    }
  }

  // The writer chooses each scanline's filter type itself; the name's
  // fixed and cycling filter modes are not chosen by this test.
  test("RGB roundtrips BIT-EXACTLY across dims, every fixed filter " +
    "type, the cycling-filter mode, and Adam7 interlace") {
    for {
      (w, h) <- Seq((1, 1), (8, 8), (9, 6), (23, 17), (3, 7), (16, 1), (1, 9))
      interlaced <- Seq(false, true)
    } {
      def v(x: Int, y: Int, c: Int): Int = (x * 13 + y * 31 + c * 77) % 256
      val bytes = png(MediaCodec.bgrImage(w, h, v), interlaced)
      assert(MediaCodec.detect(bytes) === "png")
      assert(MediaCodec.parsePng(bytes) === MediaCodec.PngHeader(w, h, 8, 2))
      assert(((bytes(28) & 0xff) == 1) === interlaced) // IHDR interlace
      assert(DecodeChecks.isDecodableImage(bytes))
      val img = MediaCodec.decodeImage(bytes)
      assert(img.width === w && img.height === h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(img(x, y, c) === v(x, y, c),
          s"(${w}x$h il=$interlaced) pixel ($x,$y,$c)")
    }
  }

  test("grayscale, gray+alpha and RGBA roundtrip exactly (alpha " +
    "dropped, gray expands to B=G=R)") {
    import java.awt.Transparency
    import java.awt.color.ColorSpace
    import java.awt.image.{ComponentColorModel, DataBuffer}
    def v(x: Int, y: Int, c: Int): Int = (x * 7 + y * 11 + c * 3) % 256
    val grayAlpha = {
      val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_GRAY),
        true, false, Transparency.TRANSLUCENT, DataBuffer.TYPE_BYTE)
      new BufferedImage(cm, cm.createCompatibleWritableRaster(10, 6),
        false, null)
    }
    for {
      (img, ch, colorType) <- Seq(
        (new BufferedImage(10, 6, BufferedImage.TYPE_BYTE_GRAY), 1, 0),
        (grayAlpha, 2, 4),
        (new BufferedImage(10, 6, BufferedImage.TYPE_4BYTE_ABGR), 4, 6))
      interlaced <- Seq(false, true)
    } {
      // raster band c: gray (and alpha), or R, G, B (and alpha)
      for (y <- 0 until 6; x <- 0 until 10; c <- 0 until ch)
        img.getRaster.setSample(x, y, c, v(x, y, c))
      val bytes = png(img, interlaced)
      assert(MediaCodec.parsePng(bytes).colorType === colorType)
      val out = MediaCodec.decodeImage(bytes)
      for (y <- 0 until 6; x <- 0 until 10)
        ch match {
          case 1 | 2 => // gray(+alpha): B = G = R = sample 0
            for (c <- 0 until 3)
              assert(out(x, y, c) === v(x, y, 0), s"ch=$ch ($x,$y,$c)")
          case _ => // RGBA: color carried, alpha gone
            for (c <- 0 until 3)
              assert(out(x, y, c) === v(x, y, 2 - c), s"ch=$ch ($x,$y,$c)")
        }
    }
  }

  test("indexed-color (PLTE) roundtrips exactly at bit depths " +
    "1/2/4/8, interlaced and not") {
    for {
      depth <- Seq(1, 2, 4, 8)
      interlaced <- Seq(false, true)
    } {
      val n = 1 << depth
      val palette = Array.tabulate(n)(i =>
        ((i * 37 % 256) << 16) | ((i * 59 % 256) << 8) | (i * 83 % 256))
      def idx(x: Int, y: Int): Int = (x * 3 + y * 5) % n
      val img =
        if (depth == 8) MediaCodec.indexedImage(11, 7, palette, idx)
        else {
          val cm = new IndexColorModel(depth, n, palette, 0, false, -1,
            java.awt.image.DataBuffer.TYPE_BYTE)
          val b = new BufferedImage(11, 7, BufferedImage.TYPE_BYTE_BINARY, cm)
          for (y <- 0 until 7; x <- 0 until 11)
            b.getRaster.setSample(x, y, 0, idx(x, y))
          b
        }
      val bytes = png(img, interlaced)
      assert(MediaCodec.parsePng(bytes) === MediaCodec.PngHeader(11, 7, depth, 3))
      assert(DecodeChecks.isDecodableImage(bytes))
      val out = MediaCodec.decodeImage(bytes)
      for (y <- 0 until 7; x <- 0 until 11) {
        val e = palette(idx(x, y))
        assert(out(x, y, 2) === ((e >> 16) & 0xff), s"d=$depth R ($x,$y)")
        assert(out(x, y, 1) === ((e >> 8) & 0xff), s"d=$depth G ($x,$y)")
        assert(out(x, y, 0) === (e & 0xff), s"d=$depth B ($x,$y)")
      }
    }
  }

  test("ImageIO-encoded PNGs (RGB, gray, 1-bit, with ancillary " +
    "chunks) decode EXACTLY — cross-implementation, zero tolerance") {
    // RGB
    val rgb = new BufferedImage(19, 13, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 13; x <- 0 until 19)
      rgb.setRGB(x, y,
        ((x * 11 + y) % 256 << 16) | ((y * 17 + x) % 256 << 8) |
          ((x * 3 + y * 29) % 256))
    // grayscale
    val gray = new BufferedImage(9, 14, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 14; x <- 0 until 9)
      gray.getRaster.setSample(x, y, 0, (x * 19 + y * 7) % 256)
    // 1-bit binary
    val bin = new BufferedImage(17, 5, BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until 5; x <- 0 until 17)
      bin.getRaster.setSample(x, y, 0, (x + y) % 2)
    for ((img, name) <- Seq((rgb, "rgb"), (gray, "gray"), (bin, "bin"))) {
      val bos = new java.io.ByteArrayOutputStream
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      val bytes = bos.toByteArray
      assert(MediaCodec.detect(bytes) === "png", name)
      assert(DecodeChecks.isDecodableImage(bytes), name)
      val mine = MediaCodec.decodeImage(bytes)
      if (name == "gray")
        // getRGB gamma-converts linear gray; compare raster samples
        for (y <- 0 until 14; x <- 0 until 9; c <- 0 until 3)
          assert(mine(x, y, c) === gray.getRaster.getSample(x, y, 0),
            s"gray ($x,$y,$c)")
      else assertExactVsImageIo(mine, img)
    }
  }

  test("byte-fuzzed streams NEVER escape as AIOOBE/OOM — every fault " +
    "is an IllegalArgumentException (untrusted corpus bytes contract)") {
    val rnd = new scala.util.Random(0x9e77L)
    val base = png(MediaCodec.bgrImage(24, 16,
      (x, y, c) => (x * 7 + y * 5 + c * 3) % 256), interlaced = true)
    for (trial <- 1 to 300) {
      val mutated = base.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 0 until flips)
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      try { MediaCodec.decodeImage(mutated); () }
      catch {
        case _: IllegalArgumentException => () // the contract
        case e: Throwable =>
          fail(s"trial $trial escaped with ${e.getClass.getName}: " +
            s"${e.getMessage}")
      }
      val cut = base.take(1 + rnd.nextInt(base.length - 1))
      try { MediaCodec.decodeImage(cut); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"truncation trial $trial escaped with ${e.getClass.getName}")
      }
    }
    // Directed extreme u32 values in every aligned slot: random pokes
    // almost never craft a near-Int.MaxValue chunk length (the class
    // that wrapped the WAV walk cursor) — write them explicitly.
    for (off <- 0 until (base.length - 3) by 4;
         v <- Seq(0x7fffffff, 0x7ffffff0, 0x80000000, -1, 2, 3, 8)) {
      val m = base.clone()
      m(off) = ((v >> 24) & 0xff).toByte
      m(off + 1) = ((v >> 16) & 0xff).toByte
      m(off + 2) = ((v >> 8) & 0xff).toByte
      m(off + 3) = (v & 0xff).toByte
      try { MediaCodec.decodeImage(m); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"extreme-u32 at $off escaped with ${e.getClass.getName}")
      }
    }
  }

  test("hostile dimensions refuse at the decode cap BEFORE inflate; " +
    "16-bit depth decodes; bad CRCs and unknown critical chunks reject") {
    // Patch IHDR dims to 65535x65535 and re-CRC the chunk — a valid
    // stream whose only fault is the allocation it demands.
    val huge = png(MediaCodec.bgrImage(8, 8, (_, _, _) => 0))
    // width/height are u32be at 16/20 — low half 0xffff = 65535
    for (d <- Seq(18, 19, 22, 23)) huge(d) = 0xff.toByte
    reCrcIhdr(huge)
    val e = intercept[IllegalArgumentException](MediaCodec.decodeImage(huge))
    assert(e.getMessage.contains("decode cap"), e.getMessage)
    assert(!DecodeChecks.isDecodableImage(huge))
    // a real 16-bit gray PNG: sample v reads back as v·255/65535
    val deep = new BufferedImage(6, 4, BufferedImage.TYPE_USHORT_GRAY)
    def v16(x: Int, y: Int): Int = (x * 9001 + y * 15013) % 65536
    for (y <- 0 until 4; x <- 0 until 6)
      deep.getRaster.setSample(x, y, 0, v16(x, y))
    val bytes = png(deep)
    assert(MediaCodec.parsePng(bytes).bitDepth === 16)
    val out = MediaCodec.decodeImage(bytes)
    for (y <- 0 until 4; x <- 0 until 6; c <- 0 until 3)
      assert(out(x, y, c) === v16(x, y) * 255 / 65535, s"($x,$y,$c)")
    // a header claiming 16 bits over 8-bit pixel data is a data fault
    val lying = png(MediaCodec.grayImage(4, 4, (x, y) => x + y))
    lying(24) = 16
    reCrcIhdr(lying)
    intercept[IllegalArgumentException](MediaCodec.decodeImage(lying))
    // chunk CRCs are verified: flip one bit of the IHDR CRC
    val badCrc = png(MediaCodec.grayImage(4, 4, (x, y) => x + y))
    badCrc(32) = (badCrc(32) ^ 1).toByte
    val e2 = intercept[IllegalArgumentException](MediaCodec.decodeImage(badCrc))
    assert(e2.getMessage.contains("CRC"), e2.getMessage)
    // an unknown critical chunk (valid CRC) after IHDR rejects
    val plain = png(MediaCodec.grayImage(4, 4, (x, y) => x + y))
    val zzzz = {
      val c = new java.util.zip.CRC32
      c.update("ZZZZ".getBytes("ISO-8859-1"))
      val v = c.getValue.toInt
      Array[Byte](0, 0, 0, 0) ++ "ZZZZ".getBytes("ISO-8859-1") ++
        Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    }
    val crit = plain.take(33) ++ zzzz ++ plain.drop(33)
    val e3 = intercept[IllegalArgumentException](MediaCodec.decodeImage(crit))
    assert(e3.getMessage.contains("unknown critical chunk ZZZZ"), e3.getMessage)
    // the same chunk named ancillary ("zZZZ") is skipped
    val anc = crit.clone()
    anc(37) = 'z'
    val c = new java.util.zip.CRC32
    c.update(anc, 37, 4)
    val v = c.getValue.toInt
    anc(41) = (v >>> 24).toByte; anc(42) = (v >>> 16).toByte
    anc(43) = (v >>> 8).toByte; anc(44) = v.toByte
    assert(MediaCodec.decodeImage(anc)(3, 3, 0) === 6)
  }

  test("header-only synthesizePng payloads and truncated zlib gate " +
    "correctly: guard false / decode IAE, never a crash") {
    val headerOnly = MediaCodec.synthesizePng(32, 20)
    assert(MediaCodec.detect(headerOnly) === "png")
    assert(!DecodeChecks.isDecodableImage(headerOnly)) // no IDAT
    intercept[IllegalArgumentException](MediaCodec.decodeImage(headerOnly))
    // structurally valid chunks, truncated zlib payload: decode faults
    // as IAE, so the guard (a full decode) is false as well
    val full = png(MediaCodec.bgrImage(16, 16, (x, y, c) => (x + y + c) % 256))
    val idatLen = {
      var pos = 8
      var len = -1
      while (len < 0) {
        val l = ((full(pos) & 0xff) << 24) | ((full(pos + 1) & 0xff) << 16) |
          ((full(pos + 2) & 0xff) << 8) | (full(pos + 3) & 0xff)
        val typ = new String(full, pos + 4, 4, "ISO-8859-1")
        if (typ == "IDAT") len = l else pos += 12 + l
      }
      len
    }
    assert(idatLen > 8)
    val cutZlib = {
      // rebuild with the IDAT data cut in half (CRC recomputed)
      val out = new java.io.ByteArrayOutputStream
      var pos = 0
      out.write(full, 0, 8); pos = 8
      while (pos < full.length) {
        val l = ((full(pos) & 0xff) << 24) | ((full(pos + 1) & 0xff) << 16) |
          ((full(pos + 2) & 0xff) << 8) | (full(pos + 3) & 0xff)
        val typ = new String(full, pos + 4, 4, "ISO-8859-1")
        if (typ == "IDAT") {
          val keep = l / 2
          val head = new Array[Byte](8)
          head(0) = (keep >>> 24).toByte; head(1) = (keep >>> 16).toByte
          head(2) = (keep >>> 8).toByte; head(3) = keep.toByte
          System.arraycopy(full, pos + 4, head, 4, 4)
          out.write(head)
          out.write(full, pos + 8, keep)
          val crc = new java.util.zip.CRC32
          crc.update(head, 4, 4)
          crc.update(full, pos + 8, keep)
          val t = new Array[Byte](4)
          val cv = crc.getValue.toInt
          t(0) = (cv >>> 24).toByte; t(1) = (cv >>> 16).toByte
          t(2) = (cv >>> 8).toByte; t(3) = cv.toByte
          out.write(t)
        } else out.write(full, pos, 12 + l)
        pos += 12 + l
      }
      out.toByteArray
    }
    assert(!DecodeChecks.isDecodableImage(cutZlib))
    val e = intercept[IllegalArgumentException](MediaCodec.decodeImage(cutZlib))
    assert(e.getMessage.toLowerCase.contains("end of zlib"), e.getMessage)
  }

  test("decodeImage/isDecodableImage dispatch PNG through the unified " +
    "shape beside BMP and JPEG") {
    val bytes = png(MediaCodec.bgrImage(6, 4, (x, y, c) => (x + y * 2 + c) % 256))
    assert(DecodeChecks.isDecodableImage(bytes))
    val img = MediaCodec.decodeImage(bytes)
    assert(img.width === 6 && img.height === 4)
    assert(img(3, 2, 2) === (3 + 2 * 2 + 2) % 256)
  }
}
