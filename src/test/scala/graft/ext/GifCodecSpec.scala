package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** GIF through [[MediaCodec.decodeImage]] (ImageIO underneath): EXACT
  * palette roundtrips (the format is palette-lossless — zero
  * tolerance) over ImageIO's REAL variable-width compressed LZW,
  * interlace, sub-screen frames composited on the logical screen, and
  * the untrusted-bytes fault contract. Fixtures are written by
  * [[MediaCodec.encodeImage]].
  */
class GifCodecSpec extends AnyFunSuite {

  private def gif(
      w: Int, h: Int, palette: Array[Int], idx: (Int, Int) => Int,
      interlaced: Boolean = false): Array[Byte] =
    MediaCodec.encodeImage("gif",
      MediaCodec.indexedImage(w, h, palette, idx), interlaced)

  /** Offset of the first image descriptor: past the screen descriptor,
    * the global color table and any extension blocks.
    */
  private def imageDescriptorAt(b: Array[Byte]): Int = {
    var pos = 13 + 3 * MediaCodec.parseGif(b).gctEntries
    while ((b(pos) & 0xff) == 0x21) {
      pos += 2
      while (b(pos) != 0) pos += 1 + (b(pos) & 0xff)
      pos += 1
    }
    assert((b(pos) & 0xff) === 0x2c)
    pos
  }

  // The writer emits compressed LZW; the name's literal coding is not
  // what these streams hold.
  test("indexed roundtrips BIT-EXACTLY across dims, palette sizes, " +
    "and interlace — literal LZW with periodic clears") {
    for {
      (w, h) <- Seq((1, 1), (8, 8), (9, 6), (23, 17), (3, 7), (16, 1), (1, 9))
      palSize <- Seq(2, 5, 16, 200, 256)
      interlaced <- Seq(false, true)
    } {
      val palette = Array.tabulate(palSize)(i =>
        ((i * 37 % 256) << 16) | ((i * 59 % 256) << 8) | (i * 83 % 256))
      def idx(x: Int, y: Int): Int = (x * 3 + y * 5) % palSize
      val bytes = gif(w, h, palette, idx, interlaced)
      assert(MediaCodec.detect(bytes) === "gif")
      // image descriptor packed byte, bit 6: the interlace flag
      val desc = imageDescriptorAt(bytes)
      assert(((bytes(desc + 9) & 0x40) != 0) === interlaced)
      assert(DecodeChecks.isDecodableImage(bytes))
      val img = MediaCodec.decodeImage(bytes)
      assert(img.width === w && img.height === h)
      for (y <- 0 until h; x <- 0 until w) {
        val e = palette(idx(x, y))
        assert(img(x, y, 2) === ((e >> 16) & 0xff),
          s"(${w}x$h p=$palSize il=$interlaced) R ($x,$y)")
        assert(img(x, y, 1) === ((e >> 8) & 0xff),
          s"(${w}x$h p=$palSize il=$interlaced) G ($x,$y)")
        assert(img(x, y, 0) === (e & 0xff),
          s"(${w}x$h p=$palSize il=$interlaced) B ($x,$y)")
      }
    }
  }

  test("ImageIO-encoded GIFs (REAL compressed variable-width LZW) " +
    "decode EXACTLY — cross-implementation, zero tolerance") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // an indexed image writes palette-lossless; repetitive content
    // forces genuine LZW compression (dictionary growth + width bumps)
    val n = 64
    val r = Array.tabulate(n)(i => (i * 37 % 256).toByte)
    val g = Array.tabulate(n)(i => (i * 59 % 256).toByte)
    val bl = Array.tabulate(n)(i => (i * 83 % 256).toByte)
    val cm = new IndexColorModel(8, n, r, g, bl)
    for ((w, h) <- Seq((37, 23), (64, 64), (5, 91))) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
      def idx(x: Int, y: Int): Int =
        if ((x / 8 + y / 8) % 2 == 0) (x + y) % 4 else (x * 3 + y * 7) % n
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, idx(x, y))
      val bos = new java.io.ByteArrayOutputStream
      assert(javax.imageio.ImageIO.write(img, "gif", bos))
      val bytes = bos.toByteArray
      assert(MediaCodec.detect(bytes) === "gif")
      assert(DecodeChecks.isDecodableImage(bytes), s"${w}x$h")
      val mine = MediaCodec.decodeImage(bytes)
      assert(mine.width === w && mine.height === h)
      for (y <- 0 until h; x <- 0 until w) {
        val i = idx(x, y)
        assert(mine(x, y, 2) === (r(i) & 0xff), s"(${w}x$h) R ($x,$y)")
        assert(mine(x, y, 1) === (g(i) & 0xff), s"(${w}x$h) G ($x,$y)")
        assert(mine(x, y, 0) === (bl(i) & 0xff), s"(${w}x$h) B ($x,$y)")
      }
    }
  }

  test("a frame smaller than the logical screen composites over the " +
    "background color at its (left, top) offset") {
    // patch in place: 10x6 screen, bg index 1, the 4x3 frame at (5, 2)
    val palette = Array(0x112233, 0xa0b0c0, 0xff0000, 0x00ff00)
    val bytes = gif(4, 3, palette, (x, y) => (x + y) % 4)
    assert(MediaCodec.parseGif(bytes).gctEntries === 4)
    val desc = imageDescriptorAt(bytes)
    bytes(6) = 10; bytes(7) = 0; bytes(8) = 6; bytes(9) = 0 // screen 10x6
    bytes(11) = 1 // background color index 1
    bytes(desc + 1) = 5; bytes(desc + 2) = 0 // left = 5
    bytes(desc + 3) = 2; bytes(desc + 4) = 0 // top = 2
    val img = MediaCodec.decodeImage(bytes)
    assert(img.width === 10 && img.height === 6)
    for (y <- 0 until 6; x <- 0 until 10) {
      val e =
        if (x >= 5 && x < 9 && y >= 2 && y < 5) palette((x - 5 + y - 2) % 4)
        else 0xa0b0c0 // background
      assert(img(x, y, 2) === ((e >> 16) & 0xff), s"R ($x,$y)")
      assert(img(x, y, 1) === ((e >> 8) & 0xff), s"G ($x,$y)")
      assert(img(x, y, 0) === (e & 0xff), s"B ($x,$y)")
    }
    // a frame that overruns the screen is a data fault
    bytes(desc + 1) = 7
    intercept[IllegalArgumentException](MediaCodec.decodeImage(bytes))
  }

  test("byte-fuzzed streams NEVER escape as AIOOBE/OOM — every fault " +
    "is an IllegalArgumentException (untrusted corpus bytes contract)") {
    val rnd = new scala.util.Random(0x61f1L)
    val palette = Array.tabulate(16)(i => i * 0x111111)
    val base = gif(24, 16, palette,
      (x, y) => (x * 7 + y * 5) % 16, interlaced = true)
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
  }

  test("hostile screen dimensions refuse at the decode cap before " +
    "any allocation; header-only synthesizeGif gates false") {
    val palette = Array(0x000000, 0xffffff)
    val bytes = gif(4, 4, palette, (x, y) => (x + y) % 2)
    // screen dims are u16le at 6/8 — no CRC in GIF, patch directly
    bytes(6) = 0xff.toByte; bytes(7) = 0xff.toByte
    bytes(8) = 0xff.toByte; bytes(9) = 0xff.toByte
    val e = intercept[IllegalArgumentException](MediaCodec.decodeImage(bytes))
    assert(e.getMessage.contains("decode cap"), e.getMessage)
    val headerOnly = MediaCodec.synthesizeGif(32, 20, gctBits = 4)
    assert(MediaCodec.detect(headerOnly) === "gif")
    assert(!DecodeChecks.isDecodableImage(headerOnly))
  }

  test("decodeImage/isDecodableImage dispatch GIF through the unified " +
    "shape beside BMP, JPEG and PNG") {
    val palette = Array.tabulate(8)(i =>
      ((i * 31 % 256) << 16) | ((i * 63 % 256) << 8) | (i * 15 % 256))
    val bytes = gif(6, 4, palette, (x, y) => (x + y * 2) % 8)
    assert(DecodeChecks.isDecodableImage(bytes))
    val img = MediaCodec.decodeImage(bytes)
    assert(img.width === 6 && img.height === 4)
    val e = palette((3 + 2 * 2) % 8)
    assert(img(3, 2, 2) === ((e >> 16) & 0xff))
  }
}
