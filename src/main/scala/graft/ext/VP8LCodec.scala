package graft.ext

import scala.collection.mutable.ArrayBuffer

/** REAL WebP-lossless (VP8L) codec — a from-scratch decoder for the
  * public "WebP Lossless Bitstream Specification" plus a minimal
  * spec-valid encoder, no external libraries.
  *
  * Decode implements the full still-image feature set libwebp's
  * encoder emits: LSB-first bit reading, simple and normal
  * (code-length-coded) prefix codes, LZ77 backward references with
  * the 120-entry 2D distance mapping, color cache, meta prefix
  * (entropy-image htree selection), and all four transforms —
  * predictor (14 modes), color (signed-delta cross-channel), subtract
  * green, and color indexing with sub-byte pixel bundling — applied
  * inverse in reverse read order. Output is [[MediaCodec.Bmp24]]
  * (top-down interleaved BGR, alpha dropped), the shape every pixel
  * consumer already takes.
  *
  * Conformance is proven against libwebp itself: the spec decodes
  * fixture streams produced by `WebPEncodeLosslessRGB(A)` (see
  * `src/test/resources/webp/MANIFEST.txt`) and must reproduce the
  * generator formulas EXACTLY — the format is lossless, so there is
  * zero tolerance. The fixtures exercise every decoder feature
  * (verified: the set includes predictor + color + subtract-green
  * transforms, palette bundling, color cache and meta prefix codes).
  *
  * Encode emits the simplest spec-valid stream: no transforms, no
  * cache, fixed 8-bit literal prefix codes built through the real
  * code-length-code machinery — 4 bytes/pixel, readable by any
  * conformant decoder (cross-checked against libwebp via
  * `tools/webp_conformance.py`).
  *
  * Untrusted-bytes contract (same as [[MediaCodec.decodeImage]]'s
  * for every format): corrupt, truncated, or hostile streams surface as
  * IllegalArgumentException — never AIOOBE/OOM — and `maxPixels`
  * caps the canvas allocation before any entropy byte is read.
  *
  * Reference behavior anchor: the reference pipeline treats media as
  * opaque payloads (no decode); this codec is part of the [EXT]
  * multimodal surface (SURVEY §2.9).
  */
object VP8LCodec {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"WebP: $msg")

  private def divRoundUp(a: Int, b: Int): Int = (a + b - 1) / b

  // ---------------------------------------------------------------
  // bit I/O: bits fill bytes LSB-first; prefix-code bits are read
  // MSB-of-code-first (DEFLATE-family convention)
  // ---------------------------------------------------------------

  private final class BitReader(b: Array[Byte], var bytePos: Int, end: Int) {
    private var bitPos = 0
    def readBit(): Int = {
      if (bytePos >= end) fail("truncated bitstream")
      val bit = (b(bytePos) >> bitPos) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      bit
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v |= readBit() << i; i += 1 }
      v
    }
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream
    private var acc = 0
    private var nBits = 0
    def putBits(v: Int, n: Int): Unit = { // raw field, LSB-first
      var i = 0
      while (i < n) {
        acc |= ((v >> i) & 1) << nBits
        nBits += 1
        if (nBits == 8) { out.write(acc); acc = 0; nBits = 0 }
        i += 1
      }
    }
    def putCode(code: Int, len: Int): Unit = { // prefix code, MSB-first
      var i = len - 1
      while (i >= 0) { putBits((code >> i) & 1, 1); i -= 1 }
    }
    def bytes: Array[Byte] = {
      if (nBits > 0) { out.write(acc); acc = 0; nBits = 0 }
      out.toByteArray
    }
  }

  // ---------------------------------------------------------------
  // canonical prefix codes
  // ---------------------------------------------------------------

  /** Canonical prefix decoder from a code-length array (zlib-style
    * first-code walk). A code with exactly one used symbol reads
    * ZERO bits (spec: simple codes with one symbol; degenerate
    * normal codes).
    */
  private final class PrefixCode(lengths: Array[Int]) {
    private val count = new Array[Int](16)
    private var used = 0
    private var only = -1
    lengths.zipWithIndex.foreach { case (l, s) =>
      if (l < 0 || l > 15) fail(s"bad code length $l")
      if (l > 0) { count(l) += 1; used += 1; only = s }
    }
    if (used == 0) fail("empty prefix code")
    private val single = if (used == 1) only else -1
    // over-subscription check + canonical symbol order
    private val offsets = new Array[Int](16)
    locally {
      var len = 1
      var total = 0
      var kraft = 0L
      while (len <= 15) {
        offsets(len) = total
        total += count(len)
        kraft += count(len).toLong << (15 - len)
        len += 1
      }
      if (used > 1 && kraft > (1L << 15)) fail("over-subscribed prefix code")
    }
    private val symbols = new Array[Int](used)
    locally {
      val next = offsets.clone()
      var s = 0
      while (s < lengths.length) {
        val l = lengths(s)
        if (l > 0) { symbols(next(l)) = s; next(l) += 1 }
        s += 1
      }
    }
    def read(br: BitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var index = 0
      var len = 0
      while (len < 15) {
        len += 1
        code = (code << 1) | br.readBit()
        val cnt = count(len)
        if (code - first < cnt) return symbols(index + (code - first))
        index += cnt
        first = (first + cnt) << 1
      }
      fail("invalid prefix code walk")
    }
  }

  // the order code-length-code lengths are transmitted in (spec §5.2)
  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readCodeLengths(
      br: BitReader, alphabetSize: Int): Array[Int] = {
    val numCodes = 4 + br.readBits(4)
    if (numCodes > 19) fail(s"bad code-length count $numCodes")
    val clLengths = new Array[Int](19)
    var i = 0
    while (i < numCodes) {
      clLengths(CodeLengthOrder(i)) = br.readBits(3)
      i += 1
    }
    val clCode = new PrefixCode(clLengths)
    var maxTokens =
      if (br.readBits(1) == 1) {
        val nbits = 2 + 2 * br.readBits(3)
        val m = 2 + br.readBits(nbits)
        if (m > alphabetSize) fail("max_symbol exceeds alphabet")
        m
      } else alphabetSize
    val lengths = new Array[Int](alphabetSize)
    var symbol = 0
    var prev = 8
    var done = false
    while (!done && symbol < alphabetSize) {
      if (maxTokens == 0) done = true
      else {
        maxTokens -= 1
        val cl = clCode.read(br)
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prev = cl
        } else {
          val (repVal, extraBits, base) = cl match {
            case 16 => (prev, 2, 3)
            case 17 => (0, 3, 3)
            case _ => (0, 7, 11) // 18
          }
          val rep = base + br.readBits(extraBits)
          if (symbol + rep > alphabetSize) fail("code-length repeat overflow")
          var j = 0
          while (j < rep) { lengths(symbol) = repVal; symbol += 1; j += 1 }
        }
      }
    }
    lengths
  }

  private def readPrefixCode(br: BitReader, alphabetSize: Int): PrefixCode =
    if (br.readBits(1) == 1) { // simple code: 1 or 2 symbols
      val numSymbols = br.readBits(1) + 1
      val s0 = if (br.readBits(1) == 1) br.readBits(8) else br.readBits(1)
      if (s0 >= alphabetSize) fail(s"simple-code symbol $s0 out of alphabet")
      val lengths = new Array[Int](alphabetSize)
      lengths(s0) = 1
      if (numSymbols == 2) {
        val s1 = br.readBits(8)
        if (s1 >= alphabetSize || s1 == s0)
          fail(s"simple-code symbol pair $s0/$s1 invalid")
        lengths(s1) = 1
      }
      new PrefixCode(lengths)
    } else new PrefixCode(readCodeLengths(br, alphabetSize))

  // ---------------------------------------------------------------
  // LZ77 prefix-coded values and the 2D distance map (spec §4.2.2)
  // ---------------------------------------------------------------

  private def lz77Value(br: BitReader, code: Int): Int =
    if (code < 4) code + 1
    else {
      val extraBits = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extraBits
      offset + br.readBits(extraBits) + 1
    }

  /** (dx, dy) neighborhood for distance codes 1..120. */
  private val DistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

  // ---------------------------------------------------------------
  // decode
  // ---------------------------------------------------------------

  private final case class Transform(
      typ: Int, bits: Int, data: Array[Int], xsizeAtRead: Int)

  private final case class HTrees(
      green: PrefixCode, red: PrefixCode, blue: PrefixCode,
      alpha: PrefixCode, dist: PrefixCode)

  /** One entropy-coded image (recursive for transform data, entropy
    * image, palette). Returns ARGB pixels. `transforms` collects
    * level-0 transforms for the caller to invert; the returned width
    * is the post-color-indexing (possibly bundled) coded width.
    */
  private def decodeImageStream(
      br: BitReader, xsize0: Int, ysize: Int, isLevel0: Boolean,
      maxPixels: Int,
      transforms: ArrayBuffer[Transform]): (Array[Int], Int) = {
    var xsize = xsize0
    if (isLevel0) {
      var seen = 0
      while (br.readBits(1) == 1) {
        val t = br.readBits(2)
        if ((seen & (1 << t)) != 0) fail(s"duplicate transform $t")
        seen |= 1 << t
        t match {
          case 0 | 1 => // predictor / color transform
            val bits = br.readBits(3) + 2
            val tw = divRoundUp(xsize, 1 << bits)
            val th = divRoundUp(ysize, 1 << bits)
            val (data, _) =
              decodeImageStream(br, tw, th, isLevel0 = false, maxPixels,
                transforms)
            transforms += Transform(t, bits, data, xsize)
          case 2 => // subtract green
            transforms += Transform(2, 0, null, xsize)
          case _ => // color indexing
            val numColors = br.readBits(8) + 1
            val (palette, _) =
              decodeImageStream(br, numColors, 1, isLevel0 = false,
                maxPixels, transforms)
            var i = 1
            while (i < numColors) { // entries are componentwise deltas
              palette(i) = addPixels(palette(i), palette(i - 1))
              i += 1
            }
            val widthBits =
              if (numColors <= 2) 3
              else if (numColors <= 4) 2
              else if (numColors <= 16) 1
              else 0
            transforms += Transform(3, widthBits, palette, xsize)
            xsize = divRoundUp(xsize, 1 << widthBits)
        }
      }
    }
    // color cache (each image level may carry its own)
    var cacheBits = 0
    if (br.readBits(1) == 1) {
      cacheBits = br.readBits(4)
      if (cacheBits < 1 || cacheBits > 11)
        fail(s"bad color cache bits $cacheBits")
    }
    // meta prefix codes (level 0 only)
    var metaImage: Array[Int] = null
    var metaBits = 0
    var metaXsize = 0
    var numGroups = 1
    if (isLevel0 && br.readBits(1) == 1) {
      metaBits = br.readBits(3) + 2
      metaXsize = divRoundUp(xsize, 1 << metaBits)
      val mh = divRoundUp(ysize, 1 << metaBits)
      val (mi, _) = decodeImageStream(br, metaXsize, mh, isLevel0 = false,
        maxPixels, transforms)
      metaImage = mi
      var mx = 0
      var i = 0
      while (i < mi.length) {
        val g = (mi(i) >> 8) & 0xffff
        if (g > mx) mx = g
        i += 1
      }
      numGroups = mx + 1
      if (numGroups > 65536) fail("meta group count")
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val groups = Array.fill(numGroups) {
      val green = readPrefixCode(br, 256 + 24 + cacheSize)
      val red = readPrefixCode(br, 256)
      val blue = readPrefixCode(br, 256)
      val alpha = readPrefixCode(br, 256)
      val dist = readPrefixCode(br, 40)
      HTrees(green, red, blue, alpha, dist)
    }
    // pixel data
    val npxL = xsize.toLong * ysize
    if (npxL > maxPixels) fail(s"${xsize}x$ysize exceeds the decode cap")
    val npx = npxL.toInt
    val out = new Array[Int](npx)
    val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
    val cacheShift = 32 - cacheBits
    var pos = 0
    var x = 0
    while (pos < npx) {
      val g =
        if (metaImage == null) groups(0)
        else {
          val my = (pos / xsize) >> metaBits
          val idx = (metaImage(my * metaXsize + (x >> metaBits)) >> 8) & 0xffff
          groups(idx)
        }
      val s = g.green.read(br)
      if (s < 256) { // literal: green, red, blue, alpha
        val red = g.red.read(br)
        val blue = g.blue.read(br)
        val alpha = g.alpha.read(br)
        val p = (alpha << 24) | (red << 16) | (s << 8) | blue
        out(pos) = p
        if (cache != null) cache((0x1e35a7bd * p) >>> cacheShift) = p
        pos += 1; x += 1; if (x == xsize) x = 0
      } else if (s < 280) { // LZ77 backward reference
        val length = lz77Value(br, s - 256)
        val distCode = lz77Value(br, g.dist.read(br))
        val dist = {
          val d =
            if (distCode > 120) distCode - 120
            else {
              val (dx, dy) = DistMap(distCode - 1)
              dy * xsize + dx
            }
          if (d < 1) 1 else d
        }
        if (dist > pos) fail("backward reference before image start")
        if (pos + length > npx) fail("backward reference overruns image")
        var i = 0
        while (i < length) {
          val p = out(pos - dist)
          out(pos) = p
          if (cache != null) cache((0x1e35a7bd * p) >>> cacheShift) = p
          pos += 1; x += 1; if (x == xsize) x = 0
          i += 1
        }
      } else { // color cache reference
        if (cache == null) fail("cache symbol without a color cache")
        val idx = s - 280
        if (idx >= cacheSize) fail(s"cache index $idx of $cacheSize")
        out(pos) = cache(idx)
        pos += 1; x += 1; if (x == xsize) x = 0
      }
    }
    (out, xsize)
  }

  private def addPixels(a: Int, b: Int): Int = {
    val alphaRed =
      (((a >>> 8) & 0x00ff00ff) + ((b >>> 8) & 0x00ff00ff)) & 0x00ff00ff
    val greenBlue = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    (alphaRed << 8) | greenBlue
  }

  // ---------------------------------------------------------------
  // inverse transforms (applied in reverse read order)
  // ---------------------------------------------------------------

  private def inverseSubtractGreen(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val green = (p >>> 8) & 0xff
      val red = (((p >>> 16) & 0xff) + green) & 0xff
      val blue = ((p & 0xff) + green) & 0xff
      px(i) = (p & 0xff00ff00) | (red << 16) | blue
      i += 1
    }
  }

  private def colorDelta(t: Int, c: Int): Int =
    (t.toByte * c.toByte) >> 5 // both operands signed int8 (spec)

  private def inverseColorTransform(
      px: Array[Int], w: Int, h: Int, t: Transform): Unit = {
    val tw = divRoundUp(w, 1 << t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = t.data((y >> t.bits) * tw + (x >> t.bits))
        val g2r = cte & 0xff          // blue channel
        val g2b = (cte >>> 8) & 0xff  // green channel
        val r2b = (cte >>> 16) & 0xff // red channel
        val i = y * w + x
        val p = px(i)
        val green = (p >>> 8) & 0xff
        val red = (((p >>> 16) & 0xff) + colorDelta(g2r, green)) & 0xff
        val blue =
          ((p & 0xff) + colorDelta(g2b, green) + colorDelta(r2b, red)) & 0xff
        px(i) = (p & 0xff00ff00) | (red << 16) | blue
        x += 1
      }
      y += 1
    }
  }

  private def avg2(a: Int, b: Int): Int = {
    val alphaRed =
      ((((a >>> 8) & 0x00ff00ff) + ((b >>> 8) & 0x00ff00ff)) >> 1) & 0x00ff00ff
    val greenBlue =
      (((a & 0x00ff00ff) + (b & 0x00ff00ff)) >> 1) & 0x00ff00ff
    (alphaRed << 8) | greenBlue
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var shift = 0
    while (shift < 32) {
      val c = clamp255(((l >>> shift) & 0xff) + ((t >>> shift) & 0xff) -
        ((tl >>> shift) & 0xff))
      out |= c << shift
      shift += 8
    }
    out
  }

  private def clampAddSubtractHalf(ave: Int, tl: Int): Int = {
    var out = 0
    var shift = 0
    while (shift < 32) {
      val a = (ave >>> shift) & 0xff
      val b = (tl >>> shift) & 0xff
      out |= clamp255(a + (a - b) / 2) << shift
      shift += 8
    }
    out
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    var pL = 0
    var pT = 0
    var shift = 0
    while (shift < 32) {
      val lc = (l >>> shift) & 0xff
      val tc = (t >>> shift) & 0xff
      val tlc = (tl >>> shift) & 0xff
      val pc = lc + tc - tlc
      pL += math.abs(pc - lc)
      pT += math.abs(pc - tc)
      shift += 8
    }
    if (pL < pT) l else t
  }

  private def inversePredictor(
      px: Array[Int], w: Int, h: Int, t: Transform): Unit = {
    val tw = divRoundUp(w, 1 << t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) px(i - 1)      // top row: L
          else if (x == 0) px(i - w)      // left column: T
          else {
            val mode = (t.data((y >> t.bits) * tw + (x >> t.bits)) >>> 8) & 0xff
            val l = px(i - 1)
            val top = px(i - w)
            val tl = px(i - w - 1)
            // i − w + 1 at x = w−1 lands on (0, y) — already decoded,
            // exactly the spec's top-right wrap
            val tr = px(i - w + 1)
            mode match {
              case 0 => 0xff000000
              case 1 => l
              case 2 => top
              case 3 => tr
              case 4 => tl
              case 5 => avg2(avg2(l, tr), top)
              case 6 => avg2(l, tl)
              case 7 => avg2(l, top)
              case 8 => avg2(tl, top)
              case 9 => avg2(top, tr)
              case 10 => avg2(avg2(l, tl), avg2(top, tr))
              case 11 => select(l, top, tl)
              case 12 => clampAddSubtractFull(l, top, tl)
              case 13 => clampAddSubtractHalf(avg2(l, top), tl)
              case other => fail(s"bad predictor mode $other")
            }
          }
        px(i) = addPixels(px(i), pred)
        x += 1
      }
      y += 1
    }
  }

  private def inverseColorIndexing(
      px: Array[Int], ysize: Int, t: Transform): Array[Int] = {
    val w = t.xsizeAtRead
    val widthBits = t.bits
    val srcW = divRoundUp(w, 1 << widthBits)
    val bitsPerIdx = 8 >> widthBits
    val mask = (1 << bitsPerIdx) - 1
    val nColors = t.data.length
    val out = new Array[Int](w * ysize)
    var y = 0
    while (y < ysize) {
      var x = 0
      while (x < w) {
        val packed = px(y * srcW + (x >> widthBits))
        val green = (packed >>> 8) & 0xff
        val idx = // leftmost pixel in the least-significant bits
          (green >> ((x & ((1 << widthBits) - 1)) * bitsPerIdx)) & mask
        if (idx >= nColors) fail(s"palette index $idx of $nColors")
        out(y * w + x) = t.data(idx)
        x += 1
      }
      y += 1
    }
    out
  }

  // ---------------------------------------------------------------
  // container + public API
  // ---------------------------------------------------------------

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Locate the VP8L chunk payload: (offset, length). Walks the RIFF
    * chunk list (a VP8X extended container may precede it); lossy
    * "VP8 " payloads reject with a clear message.
    */
  private def findVp8l(b: Array[Byte]): (Int, Int) = {
    var pos = 12
    while (pos + 8 <= b.length) {
      val tag = new String(b, pos, 4, "ISO-8859-1")
      val len = le32(b, pos + 4)
      if (len < 0 || pos + 8L + len > b.length)
        fail(s"chunk '$tag' length $len overruns payload")
      tag match {
        case "VP8L" => return (pos + 8, len)
        case "VP8 " =>
          fail("lossy VP8 payload (only lossless VP8L is supported)")
        case _ => pos += 8 + len + (len & 1)
      }
    }
    fail("no VP8L chunk in container")
  }

  /** Decode a lossless WebP (VP8L) to 3-channel pixels
    * ([[MediaCodec.Bmp24]] layout, alpha dropped). Throws
    * IllegalArgumentException on unsupported or corrupt streams.
    * `maxPixels` caps the decode allocation.
    */
  def decode(
      b: Array[Byte], maxPixels: Int = 1 << 25): MediaCodec.Bmp24 =
    try decode0(b, maxPixels)
    catch {
      case e: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          "WebP: truncated or corrupt stream", e)
      case e: NegativeArraySizeException =>
        throw new IllegalArgumentException(
          "WebP: corrupt stream (negative size)", e)
    }

  private def decode0(b: Array[Byte], maxPixels: Int): MediaCodec.Bmp24 = {
    require(MediaCodec.detect(b) == "webp", "not a WebP payload")
    val (off, len) = findVp8l(b)
    if (len < 5) fail("VP8L chunk too short")
    if ((b(off) & 0xff) != 0x2f) fail("bad VP8L signature byte")
    val br = new BitReader(b, off + 1, off + len)
    val width = br.readBits(14) + 1
    val height = br.readBits(14) + 1
    br.readBits(1) // alpha-used hint
    if (br.readBits(3) != 0) fail("unsupported VP8L version")
    if (width.toLong * height > maxPixels)
      fail(s"${width}x$height exceeds the $maxPixels-pixel decode cap")
    val transforms = ArrayBuffer.empty[Transform]
    var (pixels, _) =
      decodeImageStream(br, width, height, isLevel0 = true, maxPixels,
        transforms)
    // inverse transforms, reverse read order
    var i = transforms.length - 1
    while (i >= 0) {
      val t = transforms(i)
      t.typ match {
        case 0 => inversePredictor(pixels, t.xsizeAtRead, height, t)
        case 1 => inverseColorTransform(pixels, t.xsizeAtRead, height, t)
        case 2 => inverseSubtractGreen(pixels)
        case _ => pixels = inverseColorIndexing(pixels, height, t)
      }
      i -= 1
    }
    if (pixels.length != width * height)
      fail("decoded pixel count mismatch")
    val out = new Array[Int](3 * width * height)
    var p = 0
    while (p < pixels.length) {
      val argb = pixels(p)
      out(3 * p) = argb & 0xff             // B
      out(3 * p + 1) = (argb >>> 8) & 0xff // G
      out(3 * p + 2) = (argb >>> 16) & 0xff // R
      p += 1
    }
    MediaCodec.Bmp24(width, height, out)
  }

  // ---------------------------------------------------------------
  // encode: simplest spec-valid stream — no transforms, no cache,
  // fixed 8-bit literal codes via the real code-length machinery
  // ---------------------------------------------------------------

  /** Encode pixels as a lossless WebP. `pixel(x, y, c)` with c in
    * 0 = R, 1 = G, 2 = B (PNG-style sample order). Literal-coded:
    * ~4 bytes/pixel, readable by any conformant decoder.
    */
  def encode(
      width: Int, height: Int,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 16384 && height <= 16384,
      s"bad dimensions ${width}x$height (VP8L caps at 16384)")
    val bw = new BitWriter
    bw.putBits(width - 1, 14)
    bw.putBits(height - 1, 14)
    bw.putBits(0, 1) // no alpha
    bw.putBits(0, 3) // version 0
    bw.putBits(0, 1) // no transforms
    bw.putBits(0, 1) // no color cache
    bw.putBits(0, 1) // no meta prefix codes
    // green code (280 symbols: 0..255 at length 8, rest 0) — normal
    // code over code-length symbols {8 → len 1, 16 → len 2, 17 → len 2}
    bw.putBits(0, 1) // not simple
    bw.putBits(8, 4) // num_code_lengths = 12 (covers order pos of 8/16/17)
    val greenCl = new Array[Int](19)
    greenCl(17) = 2; greenCl(16) = 2; greenCl(8) = 1
    var i = 0
    while (i < 12) { bw.putBits(greenCl(CodeLengthOrder(i)), 3); i += 1 }
    bw.putBits(0, 1) // no max_symbol
    // canonical: 8 → '0'; 16 → '10'; 17 → '11'
    bw.putCode(0, 1) // one '8'
    i = 0
    while (i < 63) { bw.putCode(2, 2); bw.putBits(1, 2); i += 1 } // 16×(3+1)
    bw.putCode(2, 2); bw.putBits(0, 2) // 16×(3+0) → 256 eights total
    i = 0
    while (i < 3) { bw.putCode(3, 2); bw.putBits(5, 3); i += 1 } // 17×(3+5)=24 zeros
    // red / blue / alpha codes (256 symbols at length 8) — symbols
    // {8 → len 1, 16 → len 1}; canonical: 8 → '0', 16 → '1'
    var ch = 0
    while (ch < 3) {
      bw.putBits(0, 1)
      bw.putBits(8, 4)
      val cl = new Array[Int](19)
      cl(16) = 1; cl(8) = 1
      i = 0
      while (i < 12) { bw.putBits(cl(CodeLengthOrder(i)), 3); i += 1 }
      bw.putBits(0, 1)
      bw.putCode(0, 1) // one '8'
      i = 0
      while (i < 63) { bw.putCode(1, 1); bw.putBits(1, 2); i += 1 }
      bw.putCode(1, 1); bw.putBits(0, 2) // 256 eights total
      ch += 1
    }
    // distance code: simple, single symbol 0 (reads zero bits)
    bw.putBits(1, 1) // simple
    bw.putBits(0, 1) // one symbol
    bw.putBits(1, 1) // 8-bit first symbol
    bw.putBits(0, 8)
    // literals: all-length-8 canonical codes are the identity, so the
    // code for value v is v itself, MSB-first
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        bw.putCode(pixel(x, y, 1) & 0xff, 8) // green
        bw.putCode(pixel(x, y, 0) & 0xff, 8) // red
        bw.putCode(pixel(x, y, 2) & 0xff, 8) // blue
        bw.putCode(0xff, 8)                  // alpha (opaque)
        x += 1
      }
      y += 1
    }
    val payload = bw.bytes
    val vp8l = new Array[Byte](1 + payload.length)
    vp8l(0) = 0x2f
    System.arraycopy(payload, 0, vp8l, 1, payload.length)
    val pad = vp8l.length & 1
    val riffSize = 4 + 8 + vp8l.length + pad
    val out = new Array[Byte](8 + riffSize)
    def putTag(off: Int, s: String): Unit = {
      var j = 0
      while (j < 4) { out(off + j) = s.charAt(j).toByte; j += 1 }
    }
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    putTag(0, "RIFF")
    putLe32(4, riffSize)
    putTag(8, "WEBP")
    putTag(12, "VP8L")
    putLe32(16, vp8l.length)
    System.arraycopy(vp8l, 0, out, 20, vp8l.length)
    out
  }
}
