package graft.ext

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, DataBuffer, DataBufferByte, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.ServiceLoader
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam}
import javax.imageio.event.IIOReadWarningListener
import javax.imageio.spi.{ImageReaderSpi, ImageWriterSpi}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFormat, UnsupportedAudioFileException}
import javax.sound.sampled.spi.{AudioFileReader, FormatConversionProvider}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** [EXT] Real (non-stub) byte-level media header codec for the six
  * container formats parseable without any codec library: BMP
  * (BITMAPINFOHEADER), canonical PCM WAV (RIFF/fmt), PNG (IHDR),
  * JPEG/JFIF (SOF marker scan), GIF (logical screen descriptor), and
  * WebP (VP8X extended header / VP8L lossless bitstream header) — pure
  * byte arithmetic. It is also the one pixel seam and the one sample
  * seam behind every [[Multimodal]] media path: [[decodeImage]] decodes
  * BMP, PNG, GIF and JPEG through the JDK's `javax.imageio`, and
  * [[encodeImage]] writes them; [[decodeAudio]] decodes WAV samples
  * through the JDK's `javax.sound.sampled`. Only lossless WebP
  * ([[VP8LCodec]]) and the GVID container are decoded in the repo.
  *
  * Layout references (public format specs):
  *   BMP: "BM" magic; BITMAPINFOHEADER at offset 14 — width i32le@18,
  *        height i32le@22, planes u16le@26, bitsPerPixel u16le@28.
  *   WAV: "RIFF" @0, "WAVE" @8, "fmt " chunk @12 — channels u16le@22,
  *        sampleRate u32le@24, bitsPerSample u16le@34.
  *   PNG: 8-byte signature 89 50 4E 47 0D 0A 1A 0A; first chunk must
  *        be IHDR — width u32be@16, height u32be@20, bit depth u8@24,
  *        color type u8@25 (0 gray, 2 rgb, 3 palette, 4 gray+alpha,
  *        6 rgba → 1/3/1/2/4 channels).
  *   JPEG: SOI FF D8, then marker segments FF xx with u16be lengths;
  *        the frame header SOFn (FF C0–CF except C4/C8/CC) carries
  *        precision u8, height u16be, width u16be, components u8.
  *        Entropy-coded data never follows before SOF, so a pure
  *        segment walk finds it without decoding.
  *   GIF: "GIF87a"/"GIF89a" @0; logical screen descriptor — width
  *        u16le@6, height u16le@8, packed u8@10 (bit 7 global color
  *        table flag, bits 6-4 color resolution − 1, bits 2-0 GCT
  *        size n with 2^(n+1) entries).
  *   WebP: RIFF @0, "WEBP" @8, then one chunk @12. VP8X — u32le size
  *        10, flags u8@20, canvas (width−1) u24le@24, (height−1)
  *        u24le@27. VP8L — 1-byte signature 0x2F @20, then a 32-bit
  *        little-endian field: 14 bits width−1, 14 bits height−1,
  *        1 alpha bit, 3 version bits (must be 0).
  */
object MediaCodec {

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    putLe16(b, off, v & 0xffff); putLe16(b, off + 2, (v >> 16) & 0xffff)
  }

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def putBe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 8) & 0xff).toByte; b(off + 1) = (v & 0xff).toByte
  }
  private def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    putBe16(b, off, (v >> 16) & 0xffff); putBe16(b, off + 2, v & 0xffff)
  }

  private val PngSig =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** "bmp" | "wav" | "png" | "jpeg" | "gif" | "webp" | "unknown" by
    * magic bytes.
    */
  def detect(b: Array[Byte]): String =
    if (b != null && b.length >= 54 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b != null && b.length >= 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (b != null && b.length >= 26 &&
      b.take(8).sameElements(PngSig) &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') "png"
    else if (b != null && b.length >= 4 &&
      (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b != null && b.length >= 13 &&
      b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a') "gif"
    else if (b != null && b.length >= 25 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') "webp"
    else "unknown"

  final case class BmpHeader(width: Int, height: Int, bitsPerPixel: Int)
  final case class WavHeader(channels: Int, sampleRate: Int, bitsPerSample: Int)
  final case class PngHeader(
      width: Int, height: Int, bitDepth: Int, colorType: Int) {
    /** Channel count implied by the color type (PNG spec §11.2.2). */
    def channels: Int = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case other =>
        throw new IllegalArgumentException(s"bad PNG color type $other")
    }
  }
  final case class JpegHeader(
      precision: Int, width: Int, height: Int, components: Int)
  /** `gctEntries` is 0 when no global color table is present;
    * `colorResolution` is bits per primary (1-8).
    */
  final case class GifHeader(
      width: Int, height: Int, gctEntries: Int, colorResolution: Int) {
    /** Palette index depth: bits per pixel of the indexed stream. */
    def indexBits: Int =
      if (gctEntries == 0) 0
      else 31 - Integer.numberOfLeadingZeros(gctEntries)
  }
  /** `variant` is "vp8x" (extended) or "vp8l" (lossless). */
  final case class WebpHeader(variant: String, width: Int, height: Int)

  def parseBmp(b: Array[Byte]): BmpHeader = {
    require(detect(b) == "bmp", "not a BMP payload")
    BmpHeader(le32(b, 18), le32(b, 22), le16(b, 28))
  }

  def parseWav(b: Array[Byte]): WavHeader = {
    require(detect(b) == "wav", "not a WAV payload")
    WavHeader(le16(b, 22), le32(b, 24), le16(b, 34))
  }

  def parsePng(b: Array[Byte]): PngHeader = {
    require(detect(b) == "png", "not a PNG payload")
    PngHeader(be32(b, 16), be32(b, 20), b(24) & 0xff, b(25) & 0xff)
  }

  def parseGif(b: Array[Byte]): GifHeader = {
    require(detect(b) == "gif", "not a GIF payload")
    val packed = b(10) & 0xff
    val entries = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    GifHeader(le16(b, 6), le16(b, 8), entries, ((packed >> 4) & 0x07) + 1)
  }

  private def le24(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16)
  private def putLe24(b: Array[Byte], off: Int, v: Int): Unit = {
    putLe16(b, off, v & 0xffff); b(off + 2) = ((v >> 16) & 0xff).toByte
  }

  def parseWebp(b: Array[Byte]): WebpHeader = {
    require(detect(b) == "webp", "not a WebP payload")
    val tag = new String(b.slice(12, 16), "US-ASCII")
    tag match {
      case "VP8X" =>
        WebpHeader("vp8x", le24(b, 24) + 1, le24(b, 27) + 1)
      case "VP8L" =>
        require((b(20) & 0xff) == 0x2f, "bad VP8L signature byte")
        val v = le32(b, 21)
        require(((v >>> 29) & 0x7) == 0, "unsupported VP8L version")
        WebpHeader("vp8l", (v & 0x3fff) + 1, ((v >>> 14) & 0x3fff) + 1)
      case other =>
        throw new IllegalArgumentException(s"unsupported WebP chunk '$other'")
    }
  }

  /** Walk the JPEG marker-segment stream to the frame header (SOFn).
    * Standalone markers (RSTn, TEM, and repeated fill FFs) carry no
    * length; every other segment is skipped by its u16be length. The
    * walk is bounded: it stops at SOS/EOI (entropy-coded data — a
    * stream with no SOF before SOS is malformed).
    */
  def parseJpeg(b: Array[Byte]): JpegHeader = {
    require(detect(b) == "jpeg", "not a JPEG payload")
    // Long cursor + an explicit bound before EVERY read: segment
    // lengths and 0xFF fill runs come from untrusted bytes. An Int
    // walk has a wrap window near Int.MaxValue (the WAV chunk-walk
    // class), and the fill-skip loop can park the cursor close enough
    // to the end that the segment-length read itself runs off the
    // buffer — both must fault as IllegalArgumentException, never
    // AIOOBE.
    var off: Long = 2L
    while (off + 4 <= b.length) {
      if ((b(off.toInt) & 0xff) != 0xff)
        throw new IllegalArgumentException(
          f"bad JPEG marker alignment at $off (0x${b(off.toInt) & 0xff}%02x)")
      var m = b(off.toInt + 1) & 0xff
      while (m == 0xff && off + 2 < b.length) {
        off += 1; m = b(off.toInt + 1) & 0xff
      }
      m match {
        case mk if mk >= 0xc0 && mk <= 0xcf &&
          mk != 0xc4 && mk != 0xc8 && mk != 0xcc =>
          // SOFn: len u16be, precision u8, height u16be, width u16be, nc u8
          require(off + 9 < b.length, "truncated SOF segment")
          return JpegHeader(
            b(off.toInt + 4) & 0xff, be16(b, off.toInt + 7),
            be16(b, off.toInt + 5), b(off.toInt + 9) & 0xff)
        case 0xd9 | 0xda => // EOI / SOS without a frame header
          throw new IllegalArgumentException("JPEG stream has no SOF marker")
        case mk if mk == 0x01 || (mk >= 0xd0 && mk <= 0xd7) =>
          off += 2 // standalone marker, no length
        case _ =>
          require(off + 4 <= b.length, "truncated JPEG segment length")
          off += 2L + be16(b, off.toInt + 2)
      }
    }
    throw new IllegalArgumentException("JPEG stream has no SOF marker")
  }

  /** Minimal valid BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, 24 bpp, no pixel data (header-only payload —
    * the metadata path never reads pixels).
    */
  def synthesizeBmp(width: Int, height: Int): Array[Byte] = {
    val b = new Array[Byte](54)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, 54)        // file size
    putLe32(b, 10, 54)       // pixel data offset
    putLe32(b, 14, 40)       // DIB header size
    putLe32(b, 18, width)
    putLe32(b, 22, height)
    putLe16(b, 26, 1)        // planes
    putLe16(b, 28, 24)       // bits per pixel
    b
  }

  /** Canonical 44-byte PCM WAV header, zero data samples. */
  def synthesizeWav(
      channels: Int, sampleRate: Int, bitsPerSample: Int = 16): Array[Byte] = {
    val b = new Array[Byte](44)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, 36)        // RIFF chunk size (no data)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 16)       // fmt chunk size
    putLe16(b, 20, 1)        // PCM
    putLe16(b, 22, channels)
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, sampleRate * channels * bitsPerSample / 8) // byte rate
    putLe16(b, 32, channels * bitsPerSample / 8)              // block align
    putLe16(b, 34, bitsPerSample)
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'
    putLe32(b, 40, 0)        // data size
    b
  }

  final case class Bmp24(width: Int, height: Int, pixels: Array[Int]) {
    /** Channel byte at top-down (x, y), c ∈ {0=B,1=G,2=R}. */
    def apply(x: Int, y: Int, c: Int): Int = pixels(3 * (y * width + x) + c)
  }

  /** The pixel-count cap of every decode, checked against the
    * header's dimensions before any pixel is allocated: a hostile
    * 65535×65535 header would otherwise demand ~13 G ints.
    */
  private val MaxPixels = 1 << 25

  /** Unified pixel decode, one return shape for every pixel consumer:
    * lossless WebP ([[VP8LCodec]]) in the repo; BMP, PNG, GIF and JPEG
    * through the JDK's `javax.imageio` ([[readImage]]). Palettes are
    * looked up, grayscale expands to B = G = R and alpha is dropped.
    * Every failure on untrusted bytes is an IllegalArgumentException.
    */
  def decodeImage(b: Array[Byte]): Bmp24 = detect(b) match {
    case "webp" => VP8LCodec.decode(b)
    case fmt @ ("bmp" | "png" | "gif" | "jpeg") => readImage(fmt, b)
    case other => throw new IllegalArgumentException(
      s"no pixel decoder for format '$other'")
  }

  /** Decode the first image of a BMP, PNG, GIF or JPEG stream with one
    * ImageIO reader. Both the header's dimensions (for GIF the logical
    * screen, which is the canvas) and the reader's image dimensions
    * are checked against [[MaxPixels]] before `read`, and a BMP's rows
    * against the payload ([[checkBmpRows]]). A reader warning
    * (libjpeg reports a truncated scan as one and pads the image)
    * fails the decode, and every ImageIO exception surfaces as an
    * IllegalArgumentException.
    */
  private def readImage(fmt: String, b: Array[Byte]): Bmp24 = {
    def cap(w: Long, h: Long): Unit =
      require(w >= 0 && h >= 0 && w * h <= MaxPixels,
        s"$fmt: ${w}x$h is outside the $MaxPixels-pixel decode cap")
    val (hw, hh): (Long, Long) = fmt match {
      case "png" =>
        checkPngChunks(b)
        val h = parsePng(b); (h.width, h.height)
      case "jpeg" => val h = parseJpeg(b); (h.width, h.height)
      // a top-down BMP stores a negative height, and the absolute
      // value of Int.MinValue is only positive as a Long
      case "bmp" => val h = parseBmp(b); (h.width, math.abs(h.height.toLong))
      case _ => val h = parseGif(b); (h.width, h.height)
    }
    cap(hw, hh)
    if (fmt == "bmp") checkBmpRows(b, hw, hh)
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    val reader = imageSpis(fmt)._1.createReaderInstance()
    var warning: Option[String] = None
    reader.addIIOReadWarningListener(new IIOReadWarningListener {
      def warningOccurred(r: ImageReader, msg: String): Unit =
        if (warning.isEmpty) warning = Some(msg)
    })
    try asDataFault(fmt) {
      // GIF keeps its metadata: the frame offsets live there
      reader.setInput(in, true, fmt != "gif")
      cap(reader.getWidth(0), reader.getHeight(0))
      val img = toBmp24(reader.read(0))
      warning.foreach(m => throw new IllegalArgumentException(s"$fmt: $m"))
      if (fmt != "gif") img
      else {
        val root = reader.getImageMetadata(0)
          .getAsTree("javax_imageio_gif_image_1.0")
        val desc = Iterator.iterate(root.getFirstChild)(_.getNextSibling)
          .find(_.getNodeName == "ImageDescriptor").get.getAttributes
        def attr(name: String): Int =
          desc.getNamedItem(name).getNodeValue.toInt
        composeGif(b, img, attr("imageLeftPosition"), attr("imageTopPosition"))
      }
    } finally {
      reader.dispose()
      in.close()
    }
  }

  /** Refuse a BMP unless its rows are stored uncompressed (compression
    * 0, 3 or 6: plain, bit-field or alpha bit-field rows) and the
    * payload holds them all: the pixel offset (u32 @10) plus `h` rows of
    * 4-byte-padded stride. The JDK's reader allocates the raster, and
    * for an embedded JPEG/PNG the declared image size, before it reads;
    * only uncompressed rows bound those by the payload (an RLE stream's
    * end-of-bitmap code fills any raster from 2 bytes). `w`×`h` is
    * within the decode cap, so the product cannot overflow.
    */
  private def checkBmpRows(b: Array[Byte], w: Long, h: Long): Unit = {
    val compression = le32(b, 30)
    require(compression == 0 || compression == 3 || compression == 6,
      s"bmp: compression $compression is not uncompressed rows")
    val end = (le32(b, 10) & 0xffffffffL) + (le16(b, 28) * w + 31) / 32 * 4 * h
    require(end <= b.length, s"bmp: truncated: the pixel array ends at " +
      s"byte $end of a ${b.length}-byte payload")
  }

  /** ImageIO's reader and writer providers per format, looked up once
    * per JVM: the registry lookup was a quarter to a half of the time a
    * 4×3 BMP took to decode or encode.
    */
  private lazy val imageSpis: Map[String, (ImageReaderSpi, ImageWriterSpi)] =
    Seq("bmp", "png", "gif", "jpeg").map { f =>
      f -> ((ImageIO.getImageReadersByFormatName(f).next().getOriginatingProvider,
        ImageIO.getImageWritersByFormatName(f).next().getOriginatingProvider))
    }.toMap

  /** Run a JDK decode of `fmt` bytes, surfacing every non-fatal
    * exception it throws as an IllegalArgumentException whose message
    * carries the cause chain (a cause without a message by its class
    * name).
    */
  private def asDataFault[T](fmt: String)(body: => T): T =
    try body
    catch {
      case NonFatal(e) if !e.isInstanceOf[IllegalArgumentException] =>
        val why = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse(t.getClass.getSimpleName))
          .mkString(": ")
        throw new IllegalArgumentException(
          s"$fmt: corrupt or unsupported stream: $why", e)
    }

  /** Walk a PNG's chunks to IEND, verifying each chunk's bounds and
    * CRC, and reject an unknown critical chunk (uppercase first letter,
    * PNG spec §5.4), which would change what the pixels mean. ImageIO's
    * reader checks neither.
    */
  private def checkPngChunks(b: Array[Byte]): Unit = {
    var pos = 8L
    var typ = ""
    while (typ != "IEND") {
      require(pos + 12 <= b.length, "png: truncated chunk header")
      val len = be32(b, pos.toInt)
      require(len >= 0 && pos + 12 + len <= b.length,
        s"png: chunk length $len overruns the ${b.length}-byte payload")
      val crc = new java.util.zip.CRC32
      crc.update(b, pos.toInt + 4, 4 + len)
      require(crc.getValue.toInt == be32(b, pos.toInt + 8 + len),
        "png: chunk CRC mismatch")
      typ = new String(b, pos.toInt + 4, 4, "ISO-8859-1")
      require((typ.charAt(0) & 0x20) != 0 ||
        Set("IHDR", "PLTE", "IDAT", "IEND")(typ),
        s"png: unknown critical chunk $typ")
      pos += 12 + len
    }
  }

  /** Raster → [[Bmp24]] through the colour model: palette entries are
    * looked up, gray expands to B = G = R, alpha is dropped, and
    * samples deeper or shallower than 8 bits scale to 0..255. Not
    * `BufferedImage.getRGB`, which sends gray through an sRGB
    * conversion and changes its values.
    */
  private def toBmp24(img: BufferedImage): Bmp24 = {
    val r = img.getRaster
    val (w, h, nb) = (r.getWidth, r.getHeight, r.getNumBands)
    val out = new Array[Int](3 * w * h)
    val row = new Array[Int](w * nb)
    img.getColorModel match {
      case cm: IndexColorModel =>
        val rgb = new Array[Int](cm.getMapSize)
        cm.getRGBs(rgb)
        for (y <- 0 until h) {
          r.getPixels(0, y, w, 1, row)
          for (x <- 0 until w) {
            val i = row(x)
            require(i < rgb.length, s"palette index $i of ${rgb.length}")
            val o = 3 * (y * w + x)
            out(o) = rgb(i) & 0xff
            out(o + 1) = (rgb(i) >> 8) & 0xff
            out(o + 2) = (rgb(i) >> 16) & 0xff
          }
        }
      case cm =>
        val bands = // raster band holding B, G, R
          if (cm.getNumColorComponents == 1) Array(0, 0, 0)
          else if (cm.getColorSpace.getType == ColorSpace.TYPE_RGB) Array(2, 1, 0)
          else throw new IllegalArgumentException(
            s"unsupported colour space type ${cm.getColorSpace.getType}")
        val max = bands.map(c => (1 << cm.getComponentSize(c)) - 1)
        for (y <- 0 until h) {
          r.getPixels(0, y, w, 1, row)
          for (x <- 0 until w; c <- 0 until 3)
            out(3 * (y * w + x) + c) = row(x * nb + bands(c)) * 255 / max(c)
        }
    }
    Bmp24(w, h, out)
  }

  /** Composite a GIF's first frame over its logical screen, at its
    * (left, top) offset, on the background colour (black without a
    * global colour table). ImageIO returns the bare frame.
    */
  private def composeGif(
      b: Array[Byte], frame: Bmp24, left: Int, top: Int): Bmp24 = {
    val screen = parseGif(b)
    val (sw, sh) = (screen.width, screen.height)
    require(sw > 0 && sh > 0, s"gif: bad screen dimensions ${sw}x$sh")
    require(left + frame.width <= sw && top + frame.height <= sh,
      s"gif: frame ${frame.width}x${frame.height} at ($left,$top) " +
        s"exceeds screen ${sw}x$sh")
    if (frame.width == sw && frame.height == sh) return frame
    val out = new Array[Int](3 * sw * sh)
    val gct = screen.gctEntries
    val bg = 13 + 3 * (b(11) & 0xff)
    if (bg + 2 < 13 + 3 * gct && bg + 2 < b.length)
      for (i <- 0 until sw * sh; c <- 0 until 3)
        out(3 * i + c) = b(bg + 2 - c) & 0xff
    for (y <- 0 until frame.height)
      System.arraycopy(frame.pixels, 3 * y * frame.width,
        out, 3 * ((top + y) * sw + left), 3 * frame.width)
    Bmp24(sw, sh, out)
  }

  /** Encode an image as BMP, PNG, GIF or JPEG through ImageIO — the
    * writer that matches [[decodeImage]]. `interlaced` selects Adam7
    * (PNG) or the 4-pass row interlace (GIF) through the progressive
    * mode; BMP has none. JPEG is written at quality 1.0, whose
    * quantization tables are all ones, so content that is constant over
    * each 8×8 block decodes back exactly. A [[bgrImage]] is written as
    * an uncompressed 24-bit BMP: bottom-up rows, each padded to 4
    * bytes.
    */
  def encodeImage(
      fmt: String, img: BufferedImage,
      interlaced: Boolean = false): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new MemoryCacheImageOutputStream(bos)
    val writer = imageSpis(fmt)._2.createWriterInstance()
    try {
      val p = writer.getDefaultWriteParam
      // the BMP writer throws on setProgressiveMode
      if (p.canWriteProgressive)
        p.setProgressiveMode(
          if (interlaced) ImageWriteParam.MODE_DEFAULT
          else ImageWriteParam.MODE_DISABLED)
      if (fmt == "jpeg") {
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(1f)
      }
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, null), p)
    } finally {
      writer.dispose()
      out.close()
    }
    bos.toByteArray
  }

  /** Fill a byte-backed image whose pixels interleave `bands` samples:
    * sample c of top-down (x, y) is `f(x, y, c)`.
    */
  private def filled(img: BufferedImage, bands: Int)(
      f: (Int, Int, Int) => Int): BufferedImage = {
    val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    val w = img.getWidth
    for (y <- 0 until img.getHeight; x <- 0 until w; c <- 0 until bands)
      data((y * w + x) * bands + c) = f(x, y, c).toByte
    img
  }

  /** An image whose channel c ∈ {0=B, 1=G, 2=R} at top-down (x, y) is
    * `pixel(x, y, c)` — the [[Bmp24]] order, which is also the byte
    * order of `TYPE_3BYTE_BGR`.
    */
  def bgrImage(
      width: Int, height: Int, pixel: (Int, Int, Int) => Int): BufferedImage =
    filled(new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR), 3)(
      pixel)

  /** An 8-bit grayscale image. */
  def grayImage(width: Int, height: Int, v: (Int, Int) => Int): BufferedImage =
    filled(new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY), 1)(
      (x, y, _) => v(x, y))

  /** An 8-bit indexed image over `palette` (packed 0xRRGGBB, at most
    * 256 entries); `index(x, y)` must be < palette.length.
    */
  def indexedImage(
      width: Int, height: Int, palette: Array[Int],
      index: (Int, Int) => Int): BufferedImage = {
    val cm = new IndexColorModel(8, palette.length, palette, 0, false, -1,
      DataBuffer.TYPE_BYTE)
    filled(new BufferedImage(
      width, height, BufferedImage.TYPE_BYTE_INDEXED, cm), 1) { (x, y, _) =>
      val i = index(x, y)
      require(i >= 0 && i < palette.length, s"index $i out of palette at ($x,$y)")
      i
    }
  }

  /** Minimal video container ("GVID"): magic + u32le frame count,
    * then length-prefixed frames (any embedded codec — here BMP).
    * The 1→N decode shape of real video without an external codec.
    */
  def synthesizeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(4 + _.length).sum
    val b = new Array[Byte](total)
    b(0) = 'G'; b(1) = 'V'; b(2) = 'I'; b(3) = 'D'
    putLe32(b, 4, frames.length)
    var off = 8
    frames.foreach { f =>
      putLe32(b, off, f.length)
      System.arraycopy(f, 0, b, off + 4, f.length)
      off += 4 + f.length
    }
    b
  }

  def decodeVideoFrames(b: Array[Byte]): Array[Array[Byte]] = {
    require(b.length >= 8 && b(0) == 'G' && b(1) == 'V' &&
      b(2) == 'I' && b(3) == 'D', "not a GVID payload")
    val n = le32(b, 4)
    // The embedded count/lengths are untrusted corpus bytes: a
    // truncated or corrupt container must fail with a clear message
    // (or a bounded allocation), never AIOOBE / NegativeArraySize /
    // a 2³¹-slot allocation from a bogus count.
    require(n >= 0 && n.toLong <= (b.length - 8L) / 4L,
      s"corrupt GVID frame count: $n for ${b.length}-byte payload")
    val out = new Array[Array[Byte]](n)
    var off = 8
    var i = 0
    while (i < n) {
      require(off + 4 <= b.length, s"truncated GVID: frame $i length")
      val len = le32(b, off)
      require(len >= 0 && off + 4L + len <= b.length,
        s"truncated GVID: frame $i claims $len bytes past payload end")
      out(i) = java.util.Arrays.copyOfRange(b, off + 4, off + 4 + len)
      off += 4 + len
      i += 1
    }
    out
  }

  /** Canonical PCM WAV with REAL 16-bit LE mono sample data — the
    * payload the energy extractor decodes back byte-for-byte.
    */
  def synthesizeWavPcm16(
      sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataBytes = samples.length * 2
    val b = new Array[Byte](44 + dataBytes)
    System.arraycopy(synthesizeWav(1, sampleRate, 16), 0, b, 0, 44)
    putLe32(b, 4, 36 + dataBytes) // RIFF chunk size
    putLe32(b, 40, dataBytes)     // data chunk size
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      b(44 + 2 * i) = (v & 0xff).toByte
      b(45 + 2 * i) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    b
  }

  /** Canonical mono G.711 WAV (format tag 7 = μ-law, 6 = A-law,
    * 8 bits/sample) with REAL code bytes — the payload
    * [[decodeAudio]] expands back to linear PCM.
    */
  def synthesizeWavG711(
      sampleRate: Int, codes: Array[Int], ulaw: Boolean): Array[Byte] = {
    val b = new Array[Byte](44 + codes.length)
    System.arraycopy(synthesizeWav(1, sampleRate, 8), 0, b, 0, 44)
    putLe16(b, 20, if (ulaw) 7 else 6) // WAVE_FORMAT_MULAW / ALAW
    putLe32(b, 4, 36 + codes.length)
    putLe32(b, 40, codes.length)
    var i = 0
    while (i < codes.length) {
      b(44 + i) = (codes(i) & 0xff).toByte
      i += 1
    }
    b
  }

  private def providers[S](c: Class[S]): Vector[S] =
    ServiceLoader.load(c, ClassLoader.getSystemClassLoader).asScala.toVector

  /** The JDK's WAV file reader (the first provider that parses a
    * canonical PCM WAV header) and its sample converters, looked up
    * once per JVM. `AudioSystem` repeats its `ServiceLoader` lookup on
    * every call and tries the MIDI file reader, which runs a lookup of
    * its own, before the WAV reader: with Spark's ~290 jars on the
    * classpath that cost 80–200 µs per WAV, against 2–8 µs here. The
    * providers hold no per-stream state.
    */
  private lazy val wavReader: AudioFileReader =
    providers(classOf[AudioFileReader]).find { r =>
      Try(r.getAudioInputStream(
        new ByteArrayInputStream(synthesizeWav(1, 8000)))).isSuccess
    }.getOrElse(throw new IllegalStateException("the JDK has no WAV reader"))
  private lazy val sampleConverters = providers(classOf[FormatConversionProvider])

  /** Unified WAV sample decode through the JDK's `javax.sound.sampled`:
    * 16-bit signed PCM as stored, 8-bit G.711 (μ-law / A-law) expanded
    * by the JDK's converter, both to linear 16-bit ints with channels
    * interleaved — one return shape for every sample consumer,
    * mirroring [[decodeImage]]. Every other encoding is refused,
    * although the JDK reads more. A data chunk that declares more
    * frames than the payload holds is refused: the JDK's stream just
    * ends early. Every failure is an IllegalArgumentException.
    */
  def decodeAudio(b: Array[Byte]): Array[Int] = {
    require(detect(b) == "wav", "not a WAV payload")
    import AudioFormat.Encoding.{ALAW, PCM_SIGNED, ULAW}
    asDataFault("wav") {
      val in =
        try wavReader.getAudioInputStream(new ByteArrayInputStream(b))
        catch { case e: UnsupportedAudioFileException =>
          throw new IllegalArgumentException("wav: unsupported format", e) }
      val src = in.getFormat
      (src.getEncoding, src.getSampleSizeInBits) match {
        case (PCM_SIGNED, 16) | (ULAW, 8) | (ALAW, 8) =>
        case _ => throw new IllegalArgumentException(
          s"wav: no sample decoder for $src")
      }
      val ch = src.getChannels
      // the samples the data chunk declares; each takes a payload byte
      val n = in.getFrameLength * ch
      require(n >= 0 && n <= b.length,
        s"wav: truncated data chunk: declares $n samples in ${b.length} bytes")
      val to = new AudioFormat(
        PCM_SIGNED, src.getSampleRate, 16, ch, 2 * ch, src.getSampleRate, false)
      // the first converter that can, as AudioSystem picks
      val pcm = if (src.matches(to)) in else sampleConverters
        .find(_.isConversionSupported(to, src))
        .getOrElse(throw new IllegalArgumentException(s"wav: no converter from $src"))
        .getAudioInputStream(to, in)
      val buf = new Array[Byte](2 * n.toInt)
      var got = 0
      var r = 0
      // 0 ends the read like -1: a JDK codec stream can return 0 forever
      while (got < buf.length &&
        { r = pcm.read(buf, got, buf.length - got); r > 0 }) got += r
      require(got == buf.length, s"wav: truncated data chunk: declares " +
        s"$n samples, payload holds ${got / 2}")
      Array.tabulate(n.toInt)(i => (buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8))
    }
  }

  /** Minimal spec-valid PNG: signature + IHDR chunk (with a real
    * CRC-32 over type+data — readers that check it must accept the
    * payload) and an IEND chunk. No IDAT — header-only payload, the
    * metadata path never inflates pixels.
    */
  def synthesizePng(
      width: Int, height: Int, bitDepth: Int = 8,
      colorType: Int = 2): Array[Byte] = {
    val b = new Array[Byte](8 + 25 + 12)
    PngSig.copyToArray(b, 0)
    putBe32(b, 8, 13)        // IHDR data length
    b(12) = 'I'; b(13) = 'H'; b(14) = 'D'; b(15) = 'R'
    putBe32(b, 16, width)
    putBe32(b, 20, height)
    b(24) = bitDepth.toByte
    b(25) = colorType.toByte // compression/filter/interlace stay 0
    val crc = new java.util.zip.CRC32
    crc.update(b, 12, 17)    // chunk type + data
    putBe32(b, 29, crc.getValue.toInt)
    putBe32(b, 33, 0)        // IEND data length
    b(37) = 'I'; b(38) = 'E'; b(39) = 'N'; b(40) = 'D'
    val crc2 = new java.util.zip.CRC32
    crc2.update(b, 37, 4)
    putBe32(b, 41, crc2.getValue.toInt)
    b
  }

  /** Minimal GIF89a: header + logical screen descriptor + global
    * color table of 2^gctBits zeroed entries + trailer. No image
    * descriptor — header-only payload.
    */
  def synthesizeGif(
      width: Int, height: Int, gctBits: Int = 8): Array[Byte] = {
    require(gctBits >= 1 && gctBits <= 8, s"gctBits in 1..8: $gctBits")
    val b = new Array[Byte](13 + 3 * (1 << gctBits) + 1)
    b(0) = 'G'; b(1) = 'I'; b(2) = 'F'; b(3) = '8'; b(4) = '9'; b(5) = 'a'
    putLe16(b, 6, width)
    putLe16(b, 8, height)
    // GCT present, color resolution = gctBits bits/primary, size field
    b(10) = (0x80 | ((gctBits - 1) << 4) | (gctBits - 1)).toByte
    b(11) = 0                       // background color index
    b(12) = 0                       // no pixel aspect ratio
    b(b.length - 1) = 0x3b          // trailer
    b
  }

  /** Minimal WebP. `lossless = false`: a VP8X extended-header file
    * (30 bytes, canvas dimensions only). `lossless = true`: a VP8L
    * chunk whose 5-byte bitstream header really bit-packs the
    * dimensions (14+14 bits, no alpha, version 0) plus the RIFF pad
    * byte. Neither carries coded pixels — header-only payloads.
    */
  def synthesizeWebp(
      width: Int, height: Int, lossless: Boolean = false): Array[Byte] = {
    require(width >= 1 && height >= 1 &&
      (lossless && width <= 0x4000 && height <= 0x4000 ||
        !lossless && width <= 0x1000000 && height <= 0x1000000),
      s"dimensions out of range: ${width}x$height lossless=$lossless")
    if (!lossless) {
      val b = new Array[Byte](30)
      b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
      putLe32(b, 4, 22)             // RIFF payload: WEBP + chunk hdr + 10
      b(8) = 'W'; b(9) = 'E'; b(10) = 'B'; b(11) = 'P'
      b(12) = 'V'; b(13) = 'P'; b(14) = '8'; b(15) = 'X'
      putLe32(b, 16, 10)
      // flags + reserved stay 0
      putLe24(b, 24, width - 1)
      putLe24(b, 27, height - 1)
      b
    } else {
      val b = new Array[Byte](26)   // 5-byte header + pad to even
      b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
      putLe32(b, 4, 18)             // WEBP + chunk hdr + 5 + pad
      b(8) = 'W'; b(9) = 'E'; b(10) = 'B'; b(11) = 'P'
      b(12) = 'V'; b(13) = 'P'; b(14) = '8'; b(15) = 'L'
      putLe32(b, 16, 5)
      b(20) = 0x2f
      putLe32(b, 21, (width - 1) | ((height - 1) << 14))
      b
    }
  }

  /** Minimal JPEG/JFIF header stream: SOI, APP0 (JFIF 1.1), SOF0
    * (baseline, 8-bit), EOI — no scan data (the header walk in
    * [[parseJpeg]] is the read path).
    */
  def synthesizeJpeg(
      width: Int, height: Int, components: Int = 3): Array[Byte] = {
    val sof = 10 + 3 * components
    val b = new Array[Byte](2 + 18 + 2 + sof + 2)
    var o = 0
    b(o) = 0xff.toByte; b(o + 1) = 0xd8.toByte; o += 2      // SOI
    b(o) = 0xff.toByte; b(o + 1) = 0xe0.toByte              // APP0
    putBe16(b, o + 2, 16)
    b(o + 4) = 'J'; b(o + 5) = 'F'; b(o + 6) = 'I'; b(o + 7) = 'F'
    b(o + 8) = 0
    b(o + 9) = 1; b(o + 10) = 1                             // version 1.1
    b(o + 11) = 0                                           // no density units
    putBe16(b, o + 12, 1); putBe16(b, o + 14, 1)            // aspect 1:1
    o += 18
    b(o) = 0xff.toByte; b(o + 1) = 0xc0.toByte              // SOF0
    putBe16(b, o + 2, sof - 2)
    b(o + 4) = 8                                            // precision
    putBe16(b, o + 5, height)
    putBe16(b, o + 7, width)
    b(o + 9) = components.toByte
    var c = 0
    while (c < components) {
      b(o + 10 + 3 * c) = (c + 1).toByte                    // component id
      b(o + 11 + 3 * c) = 0x11                              // 1x1 sampling
      b(o + 12 + 3 * c) = 0                                 // quant table 0
      c += 1
    }
    o += sof
    b(o) = 0xff.toByte; b(o + 1) = 0xd9.toByte              // EOI
    b
  }
}
