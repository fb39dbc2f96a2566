package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import graft.{Tables, ext}

/** [EXT] Multimodal intake through `graft.ext.Multimodal` and `MediaCodec`:
  * real image, audio and video payloads decoded, resized and measured.
  */
object MediaQueries {

  val defs: Seq[QueryDef] = Seq(

    // Multimodal intake inventory over REAL payloads: BMP24 images
    // (even ids) and PCM16 WAVs (odd ids) synthesized byte-for-byte,
    // then format-detected and header-decoded back by MediaCodec —
    // the oracle predicts format/dims/sizes from the synthesis
    // formulas, so the hash only matches if detect + parse + the
    // byte layouts are all exact. (The md5 content digest stays in
    // the decodeMetadata API, spec-tested; it is not oracle-able
    // because DuckDB cannot rebuild the binary payloads.)
    QueryDef("q_multimodal_meta", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) {
            val w = (8 + id % 9).toInt
            val h = (5 + id % 7).toInt
            (id, "image", ext.MediaCodec.encodeImage("bmp",
              ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt)))
          } else {
            val n = (200 + id % 100).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 17) % 65536) - 32768).toInt)
            (id, "audio", ext.MediaCodec.synthesizeWavPcm16(16000, samples))
          }
        }).toDF("doc_id", "media_type", "payload")
      Multimodal.decodeMetadata(s, media).toDF
        .select("doc_id", "media_type", "format", "size_bytes",
          "width", "height", "channels")
    },
      // Sizes from the byte layouts the codec writes: BMP24 = 54-byte
      // header + height × (3·width padded to 4); PCM16 WAV = 44-byte
      // header + 2 bytes/sample. Dims/channels from the synthesis
      // formulas — the Spark side must round-trip them through real
      // encode + detect + header parse to match.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 54 + ((3 * (8 + doc_id % 9) + 3) // 4) * 4 * (5 + doc_id % 7)
        |    ELSE 44 + 2 * (200 + doc_id % 100) END AS BIGINT) AS size_bytes,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 9 ELSE 0 END
        |    AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 5 + doc_id % 7 ELSE 0 END
        |    AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels
        |FROM documents""".stripMargin),

    // REAL media header round-trip: synthesize valid BMP/WAV binaries
    // (dims derived from n_chars), parse them back with the byte-level
    // MediaCodec; the oracle recomputes the same fields arithmetically
    // — the parse must invert the synthesis bit-exactly.
    // [EXT] REAL audio decode over THREE encodings, doc_id % 3
    // cycling: (0) 16-bit PCM WAVs from a deterministic waveform;
    // (1) μ-law and (2) A-law G.711 WAVs whose 8-bit code bytes
    // follow a formula and expand through the JDK's G.711 converter
    // (checked against the ITU-T closed form over all 256 codes in
    // G711Spec). All reduced to exact integer
    // energy moments; the oracle recomputes from the generator
    // FORMULA (and the closed-form G.711 expansion) — the hash
    // matches only if the byte-level decode is exact.
    QueryDef("q_audio_energy", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (200 + id % 100).toInt
          (id % 3) match {
            case 0 =>
              val samples = Array.tabulate(n)(i =>
                (((id * 31 + i.toLong * 17) % 65536) - 32768).toInt)
              (id, "audio",
                graft.ext.MediaCodec.synthesizeWavPcm16(16000, samples))
            case m =>
              val codes = Array.tabulate(n)(i =>
                ((id * 31 + i.toLong * 17) % 256).toInt)
              (id, "audio", graft.ext.MediaCodec.synthesizeWavG711(
                8000, codes, ulaw = m == 1))
          }
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.audioEnergy(s, media)
    },
      // Moments from the waveform GENERATOR formula — not the bytes —
      // so the hash proves the byte decode exact. doc_id % 3 picks the
      // encoding: 0 raw PCM16; 1 μ-law and 2 A-law, where the oracle
      // expands the 8-bit code formula through the closed-form ITU-T
      // G.711 tables (complement/xor-0x55, segment shift, bias).
      """WITH d AS (SELECT doc_id FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    (doc_id * 31 + u.i * 17) % 65536 AS raw16,
        |    (doc_id * 31 + u.i * 17) % 256 AS code
        |  FROM d, unnest(range(0, 200 + doc_id % 100)) AS u(i)),
        |s AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |    WHEN 0 THEN raw16 - 32768
        |    WHEN 1 THEN (CASE WHEN (255 - code) >= 128 THEN 132 -
        |        (((255 - code) % 16) * 8 + 132)
        |          * (1 << (((255 - code) // 16) % 8))
        |      ELSE (((255 - code) % 16) * 8 + 132)
        |          * (1 << (((255 - code) // 16) % 8)) - 132 END)
        |    ELSE (CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE (xor(code, 85) // 16) % 8
        |       WHEN 0 THEN (xor(code, 85) % 16) * 16 + 8
        |       ELSE ((xor(code, 85) % 16) * 16 + 264)
        |         * (1 << ((xor(code, 85) // 16) % 8 - 1)) END)
        |    END AS v
        |  FROM c),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        |    CAST(SUM(v * v) AS BIGINT) AS sum_sq
        |  FROM s GROUP BY 1)
        |SELECT doc_id, n_samples, peak, sum_sq,
        |  CAST(FLOOR(sqrt(CAST(sum_sq AS DOUBLE)
        |    / CAST(n_samples AS DOUBLE)) * 1e6) AS BIGINT) AS rms_q
        |FROM g""".stripMargin),

    // [EXT] REAL image decode + resize over FIVE real formats,
    // doc_id % 5 cycling: (0) 24-bit BMPs with formula pixels
    // (bottom-up rows, padding, BGR); (1) single-component JPEGs
    // whose 8×8 blocks are formula-CONSTANT, written at quality 1.0
    // (all-ones quantization tables), which makes the lossy format
    // decode bit-exactly (MediaCodec.encodeImage); (2) PNGs losslessly
    // carrying the BMP pixel formula, Adam7-interlaced on alternating
    // ids; (3) GIFs with a 64-entry formula palette, 4-pass interlaced
    // on alternating ids (palette-lossless); (4) lossless WebPs — a
    // REAL VP8L prefix-coded bitstream (libwebp-conformance-proven
    // codec), losslessly carrying the BMP pixel formula. BMP, JPEG, PNG
    // and GIF are written and read through the JDK's ImageIO; WebP by
    // the repo's own codec. All DuckDB-oracle-able. Each is
    // decoded, nearest-neighbor resized to 5×3, and reduced to exact
    // channel stats the oracle recomputes from the generator formulas.
    QueryDef("q_image_resize", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt
          val h = (5 + id % 7).toInt
          (id % 5) match {
            case 0 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("bmp",
                graft.ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt)))
            case 1 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("jpeg",
                graft.ext.MediaCodec.grayImage(w, h, (x, y) =>
                  ((id * 11 + (x / 8) * 7 + (y / 8) * 13) % 256).toInt)))
            case 2 =>
              (id, "image", graft.ext.MediaCodec.encodeImage("png",
                graft.ext.MediaCodec.bgrImage(w, h, (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + c * 5) % 256).toInt),
                interlaced = id % 2 == 0))
            case 3 =>
              // GIF: 64-entry palette whose entry i decodes to the
              // BGR-indexed formula (id·7 + i·13 + c·5) % 256; packed
              // entries are 0xRRGGBB so R carries c = 2.
              val pal = Array.tabulate(64) { i =>
                def pf(c: Int) = ((id * 7 + i * 13 + c * 5) % 256).toInt
                (pf(2) << 16) | (pf(1) << 8) | pf(0)
              }
              (id, "image", graft.ext.MediaCodec.encodeImage("gif",
                graft.ext.MediaCodec.indexedImage(w, h, pal,
                  (x, y) => (x * 3 + y * 5) % 64),
                interlaced = id % 2 == 1))
            case _ =>
              // WebP (VP8L, lossless): encode samples are RGB-ordered,
              // so sample c carries BGR channel 2 − c.
              (id, "image", graft.ext.VP8LCodec.encode(w, h,
                (x, y, c) =>
                  ((id * 7 + x * 13 + y * 31 + (2 - c) * 5) % 256).toInt))
          }
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.imageResizeStats(s, media, outW = 5, outH = 3)
        .toDF()
    },
      // Resized-image stats from the pixel GENERATOR formulas evaluated
      // at the nearest-neighbor source coordinates — doc_id % 5 picks
      // the format: 1 the JPEG flat-block formula (each 8×8 block
      // constant, channel-independent, identity quant → the real
      // Huffman bitstream decodes bit-exactly); 3 the GIF
      // palette-compose formula (palette entry (x·3 + y·5) % 64, each
      // entry the BGR channel formula — LZW is palette-lossless);
      // otherwise the BMP/PNG/WebP pixel formula (PNG and VP8L are
      // lossless: the real entropy bitstreams round-trip the exact
      // bytes). Proves decode of all FIVE formats and the resize math
      // exact.
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, c.c AS chan,
        |    CASE WHEN doc_id % 5 = 1 THEN
        |      (doc_id * 11 + (((u.x * w) // 5) // 8) * 7
        |        + (((v.y * h) // 3) // 8) * 13) % 256
        |    WHEN doc_id % 5 = 3 THEN
        |      (doc_id * 7
        |        + ((((u.x * w) // 5) * 3 + ((v.y * h) // 3) * 5) % 64) * 13
        |        + c.c * 5) % 256
        |    ELSE
        |      (doc_id * 7 + ((u.x * w) // 5) * 13
        |        + ((v.y * h) // 3) * 31 + c.c * 5) % 256
        |    END AS val
        |  FROM d, unnest(range(0, 5)) u(x), unnest(range(0, 3)) v(y),
        |    unnest(range(0, 3)) c(c)),
        |g AS (
        |  SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
        |    CAST(MAX(h) AS BIGINT) AS height,
        |    CAST(SUM(CASE WHEN chan = 0 THEN val ELSE 0 END) AS BIGINT)
        |      AS b_sum,
        |    CAST(SUM(CASE WHEN chan = 1 THEN val ELSE 0 END) AS BIGINT)
        |      AS g_sum,
        |    CAST(SUM(CASE WHEN chan = 2 THEN val ELSE 0 END) AS BIGINT)
        |      AS r_sum,
        |    CAST(MIN(val) AS BIGINT) AS px_min,
        |    CAST(MAX(val) AS BIGINT) AS px_max
        |  FROM px GROUP BY 1)
        |SELECT doc_id, width, height, b_sum, g_sum, r_sum, px_min, px_max
        |FROM g""".stripMargin),

    // [EXT] REAL video decode: GVID containers of BMP24 frames,
    // every 2nd frame sampled and reduced to exact channel sums; the
    // oracle recomputes from the per-frame pixel formula.
    QueryDef("q_video_frames", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val nf = (3 + id % 4).toInt
          val frames = (0 until nf).map(f =>
            graft.ext.MediaCodec.encodeImage("bmp",
              graft.ext.MediaCodec.bgrImage(4, 3, (x, y, c) =>
                ((id * 7 + f * 11 + x * 13 + y * 31 + c * 5) % 256).toInt)))
          (id, "video", graft.ext.MediaCodec.synthesizeVideo(frames))
        }).toDF("doc_id", "media_type", "payload")
      graft.ext.Multimodal.videoFrameStats(s, media, stride = 2).toDF()
    },
      // The oracle predicts the parsed fields from the synthesis
      // formulas (doc_id % 4 cycles bmp/wav/png/jpeg); the Spark side
      // must round-trip them through REAL byte encode + parse to match.
      // Sampled-frame channel sums from the per-frame pixel formula
      // (4×3 frames, stride 2) — proves container walk + frame decode.
      """WITH d AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
        |fr AS (
        |  SELECT doc_id, u.f AS frame_idx
        |  FROM d, unnest(range(0, nf)) AS u(f)
        |  WHERE u.f % 2 = 0),
        |px AS (
        |  SELECT doc_id, frame_idx, c.c AS chan,
        |    (doc_id * 7 + frame_idx * 11 + x.x * 13 + y.y * 31 + c.c * 5)
        |      % 256 AS val
        |  FROM fr, unnest(range(0, 4)) x(x), unnest(range(0, 3)) y(y),
        |    unnest(range(0, 3)) c(c))
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(SUM(CASE WHEN chan = 0 THEN val ELSE 0 END) AS BIGINT)
        |    AS b_sum,
        |  CAST(SUM(CASE WHEN chan = 1 THEN val ELSE 0 END) AS BIGINT)
        |    AS g_sum,
        |  CAST(SUM(CASE WHEN chan = 2 THEN val ELSE 0 END) AS BIGINT)
        |    AS r_sum
        |FROM px GROUP BY 1, 2""".stripMargin),

    QueryDef("q_media_headers", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          (id % 6) match {
            case 0 => (id, "image",
              ext.MediaCodec.synthesizeBmp(
                (n % 640 + 1).toInt, ((n * 31) % 480 + 1).toInt))
            case 1 => (id, "audio",
              ext.MediaCodec.synthesizeWav(
                (n % 2 + 1).toInt, (8000 + (n % 8) * 1000).toInt))
            case 2 => (id, "image",
              ext.MediaCodec.synthesizePng(
                (n % 512 + 1).toInt, ((n * 17) % 384 + 1).toInt,
                bitDepth = 8,
                colorType = Array(0, 2, 6)((n % 3).toInt)))
            case 3 => (id, "image",
              ext.MediaCodec.synthesizeJpeg(
                (n % 320 + 1).toInt, ((n * 13) % 240 + 1).toInt,
                components = if (n % 2 == 0) 3 else 1))
            case 4 => (id, "image",
              ext.MediaCodec.synthesizeGif(
                (n % 256 + 1).toInt, ((n * 7) % 200 + 1).toInt,
                gctBits = (n % 8 + 1).toInt))
            case _ => (id, "image",
              ext.MediaCodec.synthesizeWebp(
                (n % 1024 + 1).toInt, ((n * 11) % 768 + 1).toInt,
                lossless = n % 2 == 1))
          }
        }).toDF("doc_id", "media_type", "payload")
      Multimodal.parseMediaHeaders(s, media).toDF()
    },
      """SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
        |    WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'gif'
        |    ELSE 'webp' END AS format,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN n_chars % 640 + 1
        |    WHEN 2 THEN n_chars % 512 + 1
        |    WHEN 3 THEN n_chars % 320 + 1
        |    WHEN 4 THEN n_chars % 256 + 1
        |    WHEN 5 THEN n_chars % 1024 + 1 END AS INT) AS width,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN (n_chars * 31) % 480 + 1
        |    WHEN 2 THEN (n_chars * 17) % 384 + 1
        |    WHEN 3 THEN (n_chars * 13) % 240 + 1
        |    WHEN 4 THEN (n_chars * 7) % 200 + 1
        |    WHEN 5 THEN (n_chars * 11) % 768 + 1 END AS INT) AS height,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN 24
        |    WHEN 2 THEN 8 * (CASE n_chars % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)
        |    WHEN 3 THEN 8 * (CASE WHEN n_chars % 2 = 0 THEN 3 ELSE 1 END)
        |    WHEN 4 THEN n_chars % 8 + 1
        |    END AS INT) AS bits_per_pixel,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN n_chars % 2 + 1 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN 8000 + (n_chars % 8) * 1000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN 16 END AS INT) AS bits_per_sample
        |FROM documents""".stripMargin),
  )
}
