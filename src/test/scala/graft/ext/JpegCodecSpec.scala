package graft.ext

import java.awt.image.BufferedImage
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import org.scalatest.funsuite.AnyFunSuite

/** JPEG through [[MediaCodec.decodeImage]] (ImageIO underneath):
  * exact flat-block roundtrips at quality 1.0 (the oracle contract),
  * ImageIO-encoded grayscale, subsampled color and progressive streams
  * converted exactly from the decoded raster, and the untrusted-bytes
  * fault contract.
  */
class JpegCodecSpec extends AnyFunSuite {

  private def imageIoDecode(b: Array[Byte]): BufferedImage =
    ImageIO.read(new java.io.ByteArrayInputStream(b))

  /** Write `img` with ImageIO's JPEG writer: quality 1.0 with a DRI
    * restart interval of `restartInterval` MCUs (0 = none), or the
    * default progressive scan script.
    */
  private def writeJpeg(
      img: BufferedImage, restartInterval: Int = 0,
      progressive: Boolean = false): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    val meta = writer.getDefaultImageMetadata(
      new javax.imageio.ImageTypeSpecifier(img), param)
    if (progressive)
      param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    else {
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1f)
    }
    if (restartInterval > 0) {
      val fmt = "javax_imageio_jpeg_image_1.0"
      val tree = meta.getAsTree(fmt)
      val seq = tree.getLastChild // markerSequence
      val dri = new javax.imageio.metadata.IIOMetadataNode("dri")
      dri.setAttribute("interval", restartInterval.toString)
      seq.insertBefore(dri, seq.getFirstChild)
      meta.setFromTree(fmt, tree)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = ImageIO.createImageOutputStream(bos)
    writer.setOutput(out)
    writer.write(null, new IIOImage(img, null, meta), param)
    writer.dispose()
    out.close()
    bos.toByteArray
  }

  private def maxDiffVsImageIo(
      mine: MediaCodec.Bmp24, ref: BufferedImage): Int = {
    assert(mine.width === ref.getWidth && mine.height === ref.getHeight)
    var worst = 0
    val gray = ref.getType == BufferedImage.TYPE_BYTE_GRAY
    for (y <- 0 until mine.height; x <- 0 until mine.width) {
      val d =
        if (gray) {
          // raster sample, NOT getRGB: getRGB gamma-converts linear
          // gray to sRGB (observed +-73 on mid-grays) — a color-space
          // artifact of the comparison, not of the decode
          assert(mine(x, y, 0) === mine(x, y, 1))
          math.abs(ref.getRaster.getSample(x, y, 0) - mine(x, y, 0))
        } else {
          val rgb = ref.getRGB(x, y)
          math.max(
            math.abs(((rgb >> 16) & 0xff) - mine(x, y, 2)),
            math.max(
              math.abs(((rgb >> 8) & 0xff) - mine(x, y, 1)),
              math.abs((rgb & 0xff) - mine(x, y, 0))))
        }
      if (d > worst) worst = d
    }
    worst
  }

  test("flat-block grayscale roundtrips BIT-EXACTLY with flat quant " +
    "(the oracle contract), incl. partial edge blocks and restarts") {
    for {
      (w, h) <- Seq((8, 8), (16, 8), (9, 6), (23, 17), (8, 11), (1, 1))
      rst <- Seq(0, 2)
    } {
      def v(x: Int, y: Int): Int = (7 + (x / 8) * 31 + (y / 8) * 101) % 256
      val img = MediaCodec.grayImage(w, h, v)
      val jpeg =
        if (rst == 0) MediaCodec.encodeImage("jpeg", img)
        else writeJpeg(img, restartInterval = rst)
      // FF DD: the DRI segment is present exactly when asked for
      assert(jpeg.sliding(2).exists(s =>
        (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xdd) === (rst > 0))
      assert(DecodeChecks.isDecodableImage(jpeg))
      assert(MediaCodec.detect(jpeg) === "jpeg")
      assert(MediaCodec.parseJpeg(jpeg).components === 1)
      val img2 = MediaCodec.decodeImage(jpeg)
      assert(img2.width === w && img2.height === h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(img2(x, y, c) === v(x, y),
          s"(${w}x$h rst=$rst) pixel ($x,$y,$c)")
    }
  }

  test("an ImageIO-ENCODED grayscale JPEG decodes in our decoder " +
    "within +-1 of ImageIO's own decode (independent encoder interop)") {
    val (w, h) = (32, 21)
    val src = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 11 + y * 29 + (x * y) % 13) % 256
      src.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(src, "jpg", bos))
    val jpeg = bos.toByteArray
    assert(DecodeChecks.isDecodableImage(jpeg))
    val mine = MediaCodec.decodeImage(jpeg)
    val ref = imageIoDecode(jpeg)
    // one decoder underneath: the raster conversion must be exact
    assert(maxDiffVsImageIo(mine, ref) === 0)
  }

  test("an ImageIO-ENCODED color JPEG (subsampled) decodes in our " +
    "decoder: dims exact, flat-chroma content within tolerance") {
    val (w, h) = (20, 14)
    val src = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    // luminance gradient with CONSTANT chroma
    for (y <- 0 until h; x <- 0 until w) {
      val g = 40 + ((x * 7 + y * 5) % 160)
      src.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(src, "jpg", bos))
    val jpeg = bos.toByteArray
    assert(MediaCodec.parseJpeg(jpeg).components === 3)
    assert(DecodeChecks.isDecodableImage(jpeg))
    val mine = MediaCodec.decodeImage(jpeg)
    val ref = imageIoDecode(jpeg)
    assert(maxDiffVsImageIo(mine, ref) === 0)
  }

  test("progressive JPEG decodes to the same pixels ImageIO reads") {
    val (w, h) = (16, 16)
    val src = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 16 + y) % 256
      src.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val jpeg = writeJpeg(src, progressive = true)
    assert(MediaCodec.detect(jpeg) === "jpeg")
    // SOF2: a progressive frame header
    assert(jpeg.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc2))
    assert(DecodeChecks.isDecodableImage(jpeg))
    val mine = MediaCodec.decodeImage(jpeg)
    assert(maxDiffVsImageIo(mine, imageIoDecode(jpeg)) === 0)
  }

  test("truncated and corrupt streams fail with a clear error, " +
    "and the guard rejects them or decode throws (never a wrong image)") {
    val good = MediaCodec.encodeImage("jpeg",
      MediaCodec.grayImage(16, 16, (x, y) => (x * 16 + y) % 256))
    intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(good.take(good.length / 2))
    }
    assert(!DecodeChecks.isDecodableImage(good.take(good.length / 2)))
    // a cut inside the entropy-coded scan: libjpeg pads the missing
    // rows and only warns, and the warning must fail the decode
    val sos = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val inScan = good.take((sos + good.length) / 2)
    intercept[IllegalArgumentException](MediaCodec.decodeImage(inScan))
    assert(!DecodeChecks.isDecodableImage(good.take(20)))
    assert(!DecodeChecks.isDecodableImage(Array[Byte](0x12, 0x34)))
    assert(!DecodeChecks.isDecodableImage(null))
  }

  test("byte-fuzzed streams NEVER escape as AIOOBE/OOM — every fault " +
    "is an IllegalArgumentException (untrusted corpus bytes contract)") {
    val rnd = new scala.util.Random(0x1f2e3dL)
    val base = MediaCodec.encodeImage("jpeg", MediaCodec.bgrImage(24, 16,
      (x, y, c) => (x * 7 + y * 5 + c * 3) % 256))
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
      // truncations too
      val cut = base.take(1 + rnd.nextInt(base.length - 1))
      try { MediaCodec.decodeImage(cut); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"truncation trial $trial escaped with ${e.getClass.getName}")
      }
    }
    // Directed extreme u16be values in every slot (marker-segment
    // lengths): random pokes rarely craft a maximal length, the class
    // that wrapped the WAV walk cursor in the audio twin of this
    // decoder.
    for (off <- 0 until (base.length - 1);
         v <- Seq(0xffff, 0xfffe, 0x8000)) {
      val m = base.clone()
      m(off) = ((v >> 8) & 0xff).toByte
      m(off + 1) = (v & 0xff).toByte
      try { MediaCodec.decodeImage(m); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"extreme-u16 at $off escaped with ${e.getClass.getName}")
      }
    }
    // Directed SMALL u16be values: a tiny declared segment length
    // passes a global truncation check yet every fixed-offset read in
    // the segment (SOF dims, DQT's 65-byte table, DHT's 17+nv, DRI's
    // 2, SOS's 1+2ns) lands past its end. The extreme-value pass above
    // can't reach this class.
    for (off <- 0 until (base.length - 1);
         v <- Seq(2, 3, 4, 8)) {
      val m = base.clone()
      m(off) = ((v >> 8) & 0xff).toByte
      m(off + 1) = (v & 0xff).toByte
      try { MediaCodec.decodeImage(m); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"small-u16 $v at $off escaped with ${e.getClass.getName}")
      }
      try { DecodeChecks.isDecodableImage(m); () }
      catch {
        case e: Throwable =>
          fail(s"guard small-u16 $v at $off threw ${e.getClass.getName}")
      }
    }
    // The FF-fill-run crash (found by review, reproduced): a run of
    // 0xFF fill bytes reaching EOF parked parseJpeg's cursor where the
    // segment-length read ran off the buffer — AIOOBE, not IAE.
    val ffRun = Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xE1).map(_.toByte)
    try { graft.ext.MediaCodec.parseJpeg(ffRun); () }
    catch {
      case _: IllegalArgumentException => ()
      case e: Throwable =>
        fail(s"FF-fill run escaped with ${e.getClass.getName}")
    }
    // hostile-dims allocation cap: a huge SOF must refuse, not OOM
    val huge = MediaCodec.encodeImage("jpeg",
      MediaCodec.grayImage(8, 8, (_, _) => 0))
    // patch the SOF dims (height/width u16be right after precision)
    val sofAt = {
      var i = 2
      var at = -1
      while (at < 0) {
        val m = huge(i + 1) & 0xff
        val len = ((huge(i + 2) & 0xff) << 8) | (huge(i + 3) & 0xff)
        if (m == 0xc0) at = i else i += 2 + len
      }
      at
    }
    Seq(5, 6, 7, 8).foreach(d => huge(sofAt + d) = 0xff.toByte)
    val e = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(huge)
    }
    assert(e.getMessage.contains("decode cap"), e.getMessage)
  }

  test("decodeImage dispatches BMP and JPEG through one shape") {
    val bmp = MediaCodec.encodeImage("bmp",
      MediaCodec.bgrImage(5, 4, (x, y, c) => (x + y + c) % 256))
    val jpg = MediaCodec.encodeImage("jpeg",
      MediaCodec.grayImage(8, 8, (_, _) => 77))
    assert(DecodeChecks.isDecodableImage(bmp))
    assert(DecodeChecks.isDecodableImage(jpg))
    assert(MediaCodec.decodeImage(bmp)(2, 3, 1) === (2 + 3 + 1) % 256)
    assert(MediaCodec.decodeImage(jpg)(4, 4, 0) === 77)
    assert(!DecodeChecks.isDecodableImage(Array[Byte](1, 2, 3)))
  }
}
