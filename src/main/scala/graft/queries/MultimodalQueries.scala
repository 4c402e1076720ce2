package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.{JpegWriter, MediaFixtures}
import graft.multimodal.{AudioConvert, FlacCodec, ImageConvert, MediaCodecs, MediaOps, Mp3Codec,
  Multimodal, VorbisCodec, VorbisEncoder, WebpCodec, WebpFixtures}

import Shared._

/** Multimodal: real pure-JVM media decodes (images, audio, video) and the
  * image / audio convert surfaces. Every fixture is parameterised by its
  * doc_id, so each oracle recomputes its rows in closed form or joins a
  * table of pinned constants. */
object MultimodalQueries {

  /** One media row per document, its payload built from the doc_id. */
  private def mediaRows(s: SparkSession, dir: String)(
      payload: Long => Array[Byte]): Dataset[Multimodal.MediaRow] =
    perDoc(s, dir)(id => Multimodal.MediaRow(id, "", payload(id)))

  /** [[mediaRows]] through the image decoder: the six columns the
    * closed-form image oracles recompute. */
  private def decodedImages(s: SparkSession, dir: String)(payload: Long => Array[Byte]): DataFrame =
    Multimodal.decodeImages(mediaRows(s, dir)(payload)).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("mode"), col("pixel_sum"))
      .orderBy("doc_id")

  /** Casts the named columns to their SQL types in place; the column order
    * stays as it is. */
  private def retype(types: (String, String)*)(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      types.collectFirst { case (`c`, t) => col(c).cast(t).as(c) }.getOrElse(col(c))
    }: _*)

  /** MD5 hex of samples as little-endian int16 PCM — the digest the
    * reference decoders pin. */
  private def pcmMd5(samples: Array[Int]): String = {
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw).map(b => f"$b%02x").mkString
  }

  val all: Seq[Query] = Seq(
    // A4 ordered audio-merge fold over a constructed durations table
    Query("mm_audio_merge", "SELECT o_custkey % 100 AS grp, CAST(count(*) AS INT) AS n_files, " +
        "sum(o_orderkey % 10000) / 1000.0 AS total_duration " +
        "FROM orders GROUP BY 1 ORDER BY grp") { (s, dir) =>
      val durations = s.read.parquet(s"$dir/orders.parquet")
        .select((col("o_custkey") % 100).as("grp"), (col("o_orderkey") % 10000).as("duration_ms"))
      MediaOps.mergeDurations(durations, "grp").orderBy("grp")
    },

    // pixel_sum requires a correct stride/padding walk over actual pixel
    // bytes; the oracle recomputes it in closed form from the fixture
    // parameters (constant fill (seed+y)%256 per row, seed+h < 256)
    Query("mm_decode_bmp", "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, CASE WHEN doc_id % 8 = 7 THEN 'image/x-portable-graymap' " +
        "WHEN doc_id % 4 = 3 THEN 'image/x-portable-pixmap' " +
        "ELSE 'image/bmp' END AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE doc_id % 4 WHEN 0 THEN 'P' WHEN 1 THEN 'RGB' WHEN 2 THEN 'RGBA' " +
        "ELSE (CASE WHEN doc_id % 8 = 7 THEN 'L' ELSE 'RGB' END) END AS mode, " +
        "CAST((CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4 " +
        "ELSE (CASE WHEN doc_id % 8 = 7 THEN 1 ELSE 3 END) END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      decodedImages(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 3 + (id % 5).toInt
        val seed = (id % 200).toInt
        // wheel sub-splits: half the 8-bpp payloads are BI_RLE8 (same
        // index sum), half the PNM payloads are P5 gray (1 channel, 'L')
        (id % 4) match {
          case 0 =>
            if (id % 8 == 0) MediaFixtures.bmpRle8(w, h, seed)
            else MediaFixtures.bmp(w, h, 8, seed)
          case 1 => MediaFixtures.bmp(w, h, 24, seed)
          case 2 => MediaFixtures.bmp(w, h, 32, seed, topDown = true)
          case _ => MediaFixtures.ppm(w, h, seed, gray = id % 8 == 7)
        }
      }
    },

    // PNG: the first COMPRESSED format with a real decoder (Inflater +
    // full None/Sub/Up/Average/Paeth unfiltering). Fixtures cycle the
    // filter type per scanline, so pixel_sum only matches the closed-form
    // oracle if filter reconstruction is byte-exact.
    Query("mm_decode_png", "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/png' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE doc_id % 5 WHEN 0 THEN 'L' WHEN 1 THEN 'RGB' WHEN 2 THEN 'P' " +
        "WHEN 3 THEN 'RGBA' ELSE 'LA' END AS mode, " +
        "CAST((CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1 " +
        "WHEN 3 THEN 4 ELSE 2 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      decodedImages(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 3 + (id % 5).toInt
        val seed = (id % 200).toInt
        val colorType = Seq(0, 2, 3, 6, 4)((id % 5).toInt)
        // every third payload Adam7-interlaced: the passes partition the
        // pixels, so the closed-form oracle sum is unchanged
        MediaFixtures.png(w, h, colorType, seed,
          adam7 = id % 3 == 0)
      }
    },

    // GIF: second compressed format, decompressor-distinct from PNG —
    // variable-width LSB-first LZW. Geometry sized so most payloads add
    // >253 dictionary entries (~rows x sqrt(2w) codes for constant rows)
    // and cross the 9->10-bit width boundary under the oracle; the unit
    // spec covers the deeper 1024/2048/4096+clear boundaries.
    Query("mm_decode_gif",
      // sub = sub-rect arm: screen (w+7)x(h+5), frame at (3,2), bg 9 —
      // the canvas area outside the frame sums as bg * (screen - frame)
      "WITH p AS (SELECT doc_id, 30 + doc_id % 25 AS w, 20 + doc_id % 17 AS h, " +
        "doc_id % 200 AS seed, CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS sub " +
        "FROM documents) " +
        "SELECT doc_id, 'image/gif' AS media_type, " +
        "CAST(w + sub * 7 AS INT) AS width, CAST(h + sub * 5 AS INT) AS height, " +
        "'P' AS mode, " +
        "CAST(w * (h * seed + h * (h - 1) // 2) " +
        "+ sub * 9 * ((w + 7) * (h + 5) - w * h) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      decodedImages(s, dir) { id =>
        val w = 30 + (id % 25).toInt
        val h = 20 + (id % 17).toInt
        val seed = (id % 200).toInt
        // every third frame interlaced: different LZW stream, same
        // index multiset, so the closed-form oracle sum is unchanged.
        // Every fifth is a SUB-RECT frame at (3,2) on a (w+7)x(h+5)
        // logical screen with background index 9 — the Pillow-semantics
        // canvas compositing path, oracled via the bg-area sum term
        val sub = id % 5 == 4
        MediaFixtures.gif(w, h, seed, interlace = id % 3 == 0,
          screenPadRight = if (sub) 4 else 0, screenPadBottom = if (sub) 3 else 0,
          frameLeft = if (sub) 3 else 0, frameTop = if (sub) 2 else 0,
          bgIndex = if (sub) 9 else 0)
      }
    },

    // JPEG: third compressed format — Huffman + dequant + IDCT. Content is
    // band-constant (flat 8x8 blocks -> DC-only at quant step 8), the one
    // shape a LOSSY codec round-trips exactly, enabling a closed-form
    // oracle; geometry includes non-multiple-of-8 dims (MCU padding + crop).
    // Every seventh payload is PROGRESSIVE (SOF2: multi-scan spectral
    // selection + successive approximation + EOB runs) — same pixels as the
    // baseline arm at the same (w, h, seed), so the oracle is unchanged.
    Query("mm_decode_jpeg",
      // row y holds (seed + y//8) % 256, no wrap (seed<200, <=4 bands);
      // sum_y (y//8) for h = 8q+r is 4q(q-1) + rq
      "WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/jpeg' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + 4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      decodedImages(s, dir) { id =>
        val w = 10 + (id % 23).toInt
        val h = 9 + (id % 20).toInt
        val seed = (id % 200).toInt
        // every fifth payload carries DRI + RSTn markers (interval 1-3),
        // and half the color payloads are 4:2:0-subsampled: identical
        // pixels in all variants, so the closed-form oracle is unchanged
        val ri = if (id % 5 == 0) 1 + (id % 3).toInt else 0
        if (id % 7 == 0) {
          if (id % 3 == 0) JpegWriter.generateColorProgressive(
            w, h, seed, subsample420 = id % 6 == 0, restartInterval = ri)
          else JpegWriter.generateProgressive(w, h, seed, ri)
        }
        else if (id % 6 == 0) JpegWriter.generateColor420(w, h, seed, ri)
        else if (id % 3 == 0) JpegWriter.generateColor(w, h, seed, ri)
        else JpegWriter.generate(w, h, seed, ri)
      }
    },

    // TIFF: endian-parameterized IFD walk (II and MM payloads interleaved),
    // external LONG strip arrays, gray + RGB — uncompressed, so the sum is
    // the same closed form as BMP/PPM.
    Query("mm_decode_tiff", "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/tiff' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 2 = 1 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      decodedImages(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 3 + (id % 5).toInt
        val seed = (id % 200).toInt
        // compression wheel (PackBits / LZW / raw by id % 3): same pixel
        // content in every arm, so the closed-form oracle is unchanged
        MediaFixtures.tiff(w, h, rgb = id % 2 == 1, bigEndian = id % 4 >= 2, seed,
          packBits = id % 3 == 0, lzw = id % 3 == 1)
      }
    },

    // Real-ecosystem WebP conformance in the oracle gate: the committed
    // fixtures were produced by the SYSTEM libwebp encoder. Rows 0-11
    // (scripts/gen_webp_fixtures.py) exercise every VP8L lossless
    // feature — predictor, cross-color, subtract-green, palette at all
    // four bundling widths, color cache, LZ77 backrefs, meta-prefix
    // groups — with oracle sums computed from the SOURCE pixel
    // generators. Rows 12-18 (scripts/gen_vp8_fixtures.py) are LOSSY VP8
    // key frames at qualities 20-90; their oracle sums are the system
    // libwebp's OWN WebPDecodeRGBA output (reconstruction is
    // integer-exact per RFC 6386), so the full Vp8Codec pipeline —
    // boolean decoder, token trees, dequant, intra predictors, IDCT/WHT,
    // loop filter, fancy upsampler — sits in the hash gate. Rows 26-31
    // (scripts/gen_anim_webp_fixtures.py) are ANIMATED (VP8X+ANMF) files
    // whose every frame is decoded and composited (blend / overwrite /
    // dispose-to-background, WebpCodec.decodeAnimation); pixel_sum there
    // is the composited TIMELINE digest and n_frames the ANMF count.
    Query("mm_decode_webp",
      // rows 0-11: constants computed from the fixture SOURCE pixel
      // generators by scripts/gen_webp_fixtures.py (r+g+b per pixel, +a
      // when the stream's alpha-hint bit makes the decode RGBA);
      // rows 12-18: LOSSY VP8 — constants are the system libwebp's own
      // WebPDecodeRGBA r+g+b sums (scripts/gen_vp8_fixtures.py manifest)
      "WITH f(k, width, height, mode, pixel_sum, n_frames) AS (VALUES " +
        "(0, 33, 29, 'RGB', 366348, 1), (1, 40, 32, 'RGB', 398080, 1), " +
        "(2, 41, 17, 'RGB', 323970, 1), (3, 37, 23, 'RGB', 250811, 1), " +
        "(4, 29, 31, 'RGB', 304437, 1), (5, 26, 22, 'RGB', 218718, 1), " +
        "(6, 48, 30, 'RGB', 554892, 1), (7, 32, 32, 'RGBA', 527420, 1), " +
        "(8, 160, 120, 'RGB', 7171040, 1), (9, 144, 112, 'RGB', 6011379, 1), " +
        "(10, 64, 48, 'RGB', 1026464, 1), (11, 60, 51, 'RGB', 1151181, 1), " +
        "(12, 64, 48, 'RGB', 1168891, 1), (13, 80, 64, 'RGB', 1920413, 1), " +
        "(14, 128, 96, 'RGB', 3962990, 1), (15, 64, 64, 'RGB', 1995593, 1), " +
        "(16, 61, 37, 'RGB', 794909, 1), (17, 9, 7, 'RGB', 24276, 1), " +
        "(18, 96, 80, 'RGB', 3746542, 1), " +
        // rows 19-25: VP8X+ALPH stills (pixel_sum includes the alpha
        // plane); 22-25 are the hand-built raw-ALPH filter-0..3 files
        "(19, 48, 32, 'RGBA', 617750, 1), (20, 48, 32, 'RGBA', 853496, 1), " +
        "(21, 33, 29, 'RGBA', 579719, 1), (22, 64, 48, 'RGBA', 1576495, 1), " +
        "(23, 64, 48, 'RGBA', 1576495, 1), (24, 64, 48, 'RGBA', 1576495, 1), " +
        "(25, 64, 48, 'RGBA', 1576495, 1), " +
        // rows 26-31: ANIMATED (VP8X+ANMF) — pixel_sum is the composited
        // timeline digest over every frame, n_frames the ANMF count
        // (scripts/gen_anim_webp_fixtures.py manifest; frame pixels are
        // libwebp's own decode, blended frames carry binary alpha so the
        // constants are blend-rounding-independent)
        "(26, 40, 28, 'RGBA', 1419908, 2), (27, 48, 36, 'RGBA', 3325664, 3), " +
        "(28, 44, 32, 'RGBA', 2465995, 3), (29, 64, 48, 'RGBA', 2447711, 2), " +
        "(30, 64, 48, 'RGBA', 5869032, 3), (31, 48, 32, 'RGBA', 1973319, 2)) " +
        "SELECT d.doc_id, 'image/webp' AS media_type, " +
        "CAST(f.width AS INT) AS width, CAST(f.height AS INT) AS height, " +
        "f.mode, CAST(f.pixel_sum AS BIGINT) AS pixel_sum, " +
        "CAST(f.n_frames AS INT) AS n_frames " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 32 ORDER BY d.doc_id") { (s, dir) =>
      val media = mediaRows(s, dir) { id =>
        val k = (id % 32).toInt
        WebpFixtures.bytes(if (k < 12) WebpFixtures.names(k)
          else if (k < 26) WebpFixtures.lossyNames(k - 12)
          else WebpFixtures.animNames(k - 26))
      }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"), col("n_frames"))
        .orderBy("doc_id")
    },

    // Production image CONVERT surface (the reference's image direction,
    // image_converters.py:118-137): decode source pixels -> re-encode as
    // the wheel's target format -> RE-DECODE the produced bytes. The
    // oracle recomputes geometry/mode/pixel_sum in closed form, so a
    // wrong palette expansion, channel swap, or LZW width bug in the
    // ENCODERS breaks the hash. P sources stay P for png/bmp/gif targets
    // and expand 3x for ppm/tiff; RGB sources palettize exactly for gif
    // (grayscale rows -> first-seen index == row number).
    Query("mm_convert", "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed, doc_id % 6 AS s, (doc_id // 6) % 5 AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE s WHEN 0 THEN 'bmp24' WHEN 1 THEN 'bmp8' WHEN 2 THEN 'png' " +
        "WHEN 3 THEN 'gif' WHEN 4 THEN 'ppm' ELSE 'tiff' END AS src_fmt, " +
        "CASE d WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'ppm' " +
        "WHEN 3 THEN 'tiff' ELSE 'gif' END AS dst_fmt, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN s IN (1, 3) THEN (CASE WHEN d IN (2, 3) THEN 'RGB' ELSE 'P' END) " +
        "ELSE (CASE WHEN d = 4 THEN 'P' ELSE 'RGB' END) END AS mode, " +
        "CAST(CASE WHEN s IN (1, 3) THEN " +
        "(CASE WHEN d IN (2, 3) THEN 3 ELSE 1 END) * w * (h * seed + h * (h - 1) // 2) " +
        "ELSE (CASE WHEN d = 4 THEN w * h * (h - 1) // 2 " +
        "ELSE 3 * w * (h * seed + h * (h - 1) // 2) END) END AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 3 + (id % 5).toInt
        val seed = (id % 200).toInt
        val (srcFmt, bytes) = (id % 6) match {
          case 0 => ("bmp24", MediaFixtures.bmp(w, h, 24, seed))
          case 1 => ("bmp8", MediaFixtures.bmp(w, h, 8, seed))
          case 2 => ("png", MediaFixtures.png(w, h, 2, seed))
          case 3 => ("gif", MediaFixtures.gif(w, h, seed))
          case 4 => ("ppm", MediaFixtures.ppm(w, h, seed))
          case _ => ("tiff", MediaFixtures.tiff(
            w, h, rgb = true, bigEndian = (id / 6) % 2 == 0, seed))
        }
        val dst = ImageConvert.encodeFormats(((id / 6) % 5).toInt)
        val out = ImageConvert.convertImage(bytes, dst)
        val meta = MediaCodecs.decodeImage(out).get
        (id, srcFmt, dst, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "src_fmt", "dst_fmt", "width", "height", "mode", "pixel_sum")
        .orderBy("doc_id")
    },

    // Real tag containers feeding the K6 mutagen-normalization layer:
    // FLAC (STREAMINFO bit unpacking + vorbis comments) on even ids, mp3
    // ID3v2 text frames (v2.4 syncsafe / v2.3 plain sizes) on ids % 4 == 1,
    // Ogg Vorbis (page walk + identification/comment headers) on the rest,
    // all normalized by MediaOps.audioMetadata — title/artist/album/
    // sample_rate/duration all recomputed in closed form by the oracle.
    Query("mm_audio_tags", "WITH p AS (SELECT doc_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 96000 END AS rate, " +
        "1 + doc_id % 100 AS q FROM documents) " +
        "SELECT doc_id, 'T' || doc_id AS title, 'A' || doc_id AS artist, " +
        "'L' || doc_id AS album, " +
        "CAST(CASE WHEN doc_id % 4 = 1 THEN 44100 ELSE rate END AS VARCHAR) AS sample_rate_str, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN (q * rate // 4) * 1000 // rate " +
        "ELSE 0 END AS BIGINT) AS duration_ms " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      val parsed = perDoc(s, dir) { id =>
        if (id % 4 == 0) {
          val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
          val samples = (1 + id % 100) * rate / 4
          val m = MediaCodecs.parseFlac(MediaFixtures.flac(rate, 1 + (id % 8).toInt, 16, samples,
            Seq("TITLE" -> s"T$id", "ARTIST" -> s"A$id", "album" -> s"L$id")))
          (id, ".flac", m.tags, 0, m.sampleRate, m.bitsPerSample, m.durationMs)
        } else if (id % 4 == 2) {
          // .m4a: ISO-BMFF with iTunes ilst tags through the real box walk
          // (mvhd timescale doubles as the audio sample rate, as a real
          // audio-only mp4 mux sets it); duration closed form matches the
          // flac arm's, so the oracle's duration CASE needs no new branch
          val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
          val units = (1 + id % 100) * rate / 4
          val m = MediaCodecs.parseMp4(MediaFixtures.mp4(0, 0, units, rate,
            v1 = id % 8 == 2,
            tags = Seq("©nam" -> s"T$id", "©ART" -> s"A$id", "©alb" -> s"L$id")))
          (id, ".m4a", m.tags, 0, m.timescale.toInt, 0, m.durationMs)
        } else if (id % 4 == 1) {
          val tags = MediaCodecs.parseId3v2(MediaFixtures.mp3Id3(
            Seq("TIT2" -> s"T$id", "TPE1" -> s"A$id", "TALB" -> s"L$id"),
            v24 = id % 8 == 1))
          (id, ".mp3", tags, 128000 + (id % 5).toInt * 32000, 44100, 0, 0L)
        } else { // Ogg Vorbis: real page walk + identification/comment headers
          // wheel on id/4 — ids here all satisfy id % 4 == 3, so id-modulo
          // wheels would be constant
          val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
          val m = MediaCodecs.parseOggVorbis(MediaFixtures.oggVorbis(
            1 + ((id / 4) % 2).toInt, rate, 112000 + ((id / 4) % 4).toInt * 16000,
            Seq("TITLE" -> s"T$id", "ARTIST" -> s"A$id", "ALBUM" -> s"L$id")))
          (id, ".ogg", m.tags, m.bitrateNominal, m.sampleRate, 0, 0L)
        }
      }.toDF("doc_id", "fmt", "tags", "bitrate", "sample_rate",
        "bits_per_sample", "duration_ms")
      MediaOps.audioMetadata(parsed, "fmt", "tags")
        .select(col("doc_id"),
          element_at(col("metadata"), "title").as("title"),
          element_at(col("metadata"), "artist").as("artist"),
          element_at(col("metadata"), "album").as("album"),
          element_at(col("metadata"), "sample_rate").as("sample_rate_str"),
          col("duration_ms"))
        .orderBy("doc_id")
    },

    // MP4/ISO-BMFF container metadata as a batch kernel: real mvhd/tkhd
    // parse (v0 + v1 box layouts, both timescales) with a closed-form
    // duration/geometry oracle — the video tier's structural layer is
    // real even though sample decode stays behind the codec stub.
    Query("mm_video_meta", "WITH p AS (SELECT doc_id, 160 + (doc_id % 8) * 16 AS w, " +
        "90 + (doc_id % 6) * 18 AS h, " +
        "CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 600 END AS ts, " +
        "(1 + doc_id % 240) * 300 AS units FROM documents) " +
        "SELECT doc_id, 'video/mp4' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(units * 1000 // ts AS BIGINT) AS duration_ms, " +
        "CAST(1 AS INT) AS tracks FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 160 + (id % 8).toInt * 16
        val h = 90 + (id % 6).toInt * 18
        val timescale = if (id % 2 == 0) 1000 else 600
        val units = (1 + id % 240) * 300
        val m = MediaCodecs.parseMp4(MediaFixtures.mp4(w, h, units, timescale, v1 = id % 3 == 0))
        (id, "video/mp4", m.width, m.height, m.durationMs, m.tracks)
      }.toDF("doc_id", "media_type", "width", "height", "duration_ms", "tracks")
        .orderBy("doc_id")
    },

    // REAL video SAMPLE decode (the tier the codec stub used to cover):
    // MJPEG-in-AVI clips whose every frame chunk is a complete JFIF image
    // reconstructed through the full JPEG pipeline, so frames and pixel_sum
    // are measured from decoded pixels — wrong RIFF alignment, a skipped
    // frame, or any JPEG-stage bug breaks the closed-form oracle. Frames
    // carry per-frame seeds (seed + f), so frame mix-ups are detectable.
    Query("mm_video_frames",
      // frame f's row y holds (seed + f + y//8) % 256, no wrap (seed < 150,
      // f < 6, <= 3 bands); per-frame sum = w*(h*(seed+f) + 4q(q-1) + rq)
      // with q = h//8, r = h%8 — summed over f in closed form
      "WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 150 AS seed, 2 + doc_id % 4 AS f, 10 + doc_id % 30 AS msf " +
        "FROM documents) " +
        "SELECT doc_id, 'video/x-msvideo' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(f AS INT) AS frames, " +
        "CAST(f * msf AS BIGINT) AS duration_ms, " +
        "CAST(w * h * (f * seed + f * (f - 1) // 2) " +
        "+ f * w * (4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum FROM p ORDER BY doc_id") { (s, dir) =>
      val media = mediaRows(s, dir) { id =>
        val w = 10 + (id % 23).toInt
        val h = 9 + (id % 20).toInt
        val seed = (id % 150).toInt
        val frames = 2 + (id % 4).toInt
        val usec = (10 + (id % 30).toInt) * 1000
        MediaFixtures.aviMjpeg(w, h, frames, seed, usec)
      }
      Multimodal.decodeVideos(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("frames"), col("duration_ms"), col("pixel_sum"))
        .orderBy("doc_id")
    },

    // The feature-extraction kernel's full dispatch surface in one wheel:
    // WebP across all three bitstream variants (lossy VP8 and extended
    // VP8X still + animated on the header path; lossless VP8L through the
    // REAL full pixel decoder), ICO largest-entry dims, real
    // WAV frame counts, and — the point of this query — an UNCLAIMED opaque
    // payload whose row is MARKED error='stub-decode' with zeroed dims:
    // fabricated metadata must be distinguishable from real decodes IN THE
    // DATA (Pillow throws on an undecodable image,
    // /root/reference/src/converters/image_converters.py:66-69 — it never
    // invents pixels).
    Query("mm_features", "SELECT doc_id, " +
        "CASE WHEN doc_id % 8 <= 2 THEN 'image/webp' " +
        "WHEN doc_id % 8 = 3 THEN 'image/x-icon' " +
        "WHEN doc_id % 8 = 4 THEN 'audio/wav' " +
        "WHEN doc_id % 8 = 5 THEN 'audio/aiff' " +
        "WHEN doc_id % 8 = 6 THEN " +
        "(CASE (doc_id // 8) % 2 WHEN 0 THEN 'image/heif' ELSE 'image/avif' END) " +
        "ELSE 'application/octet-stream' END AS media_type, " +
        // arm 0 dims are the committed lossy-fixture constants (manifest.tsv:
        // grad 64x48, photo_q50 80x64, photo_q90 128x96, mixed 64x64,
        // odd 61x37, tiny 9x7, noise 96x80); arm-2 stills are the alpha
        // fixtures (ramp/steps 48x32, noise 33x29)
        "CAST(CASE doc_id % 8 WHEN 0 THEN " +
        "(CASE (doc_id // 8) % 7 WHEN 0 THEN 64 WHEN 1 THEN 80 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 64 WHEN 4 THEN 61 WHEN 5 THEN 9 ELSE 96 END) " +
        "WHEN 1 THEN 1 + doc_id % 200 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN " +
        "(CASE WHEN (doc_id // 16) % 3 = 2 THEN 33 ELSE 48 END) " +
        "ELSE 200 + doc_id % 300 END) " +
        "WHEN 3 THEN 32 + doc_id % 64 WHEN 6 THEN 32 + doc_id % 100 " +
        "ELSE 0 END AS INT) AS width, " +
        "CAST(CASE doc_id % 8 WHEN 0 THEN " +
        "(CASE (doc_id // 8) % 7 WHEN 0 THEN 48 WHEN 1 THEN 64 WHEN 2 THEN 96 " +
        "WHEN 3 THEN 64 WHEN 4 THEN 37 WHEN 5 THEN 7 ELSE 80 END) " +
        "WHEN 1 THEN 1 + doc_id % 100 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN " +
        "(CASE WHEN (doc_id // 16) % 3 = 2 THEN 29 ELSE 32 END) " +
        "ELSE 150 + doc_id % 100 END) " +
        "WHEN 3 THEN 32 + doc_id % 32 WHEN 6 THEN 24 + doc_id % 50 " +
        "ELSE 0 END AS INT) AS height, " +
        "CAST(CASE doc_id % 8 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN 1 ELSE 2 + doc_id % 4 END) " +
        "WHEN 3 THEN 1 + doc_id % 3 WHEN 4 THEN 100 + doc_id % 50 " +
        "WHEN 5 THEN 100 + doc_id % 50 " +
        "WHEN 6 THEN (CASE WHEN doc_id % 16 = 6 THEN 2 ELSE 1 END) " +
        "WHEN 7 THEN 0 ELSE 1 END AS INT) AS n_frames, " +
        "CASE WHEN doc_id % 8 = 7 THEN 'stub-decode' ELSE '' END AS error " +
        "FROM documents ORDER BY doc_id") { (s, dir) =>
      val media = mediaRows(s, dir) { id =>
        (id % 8) match {
          case 0 =>
            // REAL lossy VP8 fixtures (libwebp-encoded): the full
            // Vp8Codec pixel-decode path, not a header walk
            WebpFixtures.bytes(WebpFixtures.lossyNames(((id / 8) % 7).toInt))
          case 1 =>
            // a REAL lossless stream (our encoder): rides the full
            // VP8L pixel-decode path, not the header walk
            val w = 1 + (id % 200).toInt
            val h = 1 + (id % 100).toInt
            val buf = new MediaCodecs.PixelBuf
            buf.init("RGB", w, h)
            var i = 0
            while (i < buf.data.length) {
              buf.data(i) = ((id + i) % 251).toByte
              i += 1
            }
            WebpCodec.encode(buf)
          case 2 =>
            // half REAL still VP8X+ALPH (full decode incl. the alpha
            // plane), half synthetic animated with an ANMF frame count —
            // REAL animations decode end-to-end now, but these junk ANMF
            // headers declare >16M cumulative frame pixels, so the
            // routing pre-probe keeps them on the parseWebp header path
            // (real dims + frame count, never an error row)
            if (id % 16 == 2)
              WebpFixtures.bytes(WebpFixtures.lossyNames(7 + ((id / 16) % 3).toInt))
            else MediaFixtures.webp(200 + (id % 300).toInt, 150 + (id % 100).toInt,
              variant = 2, frames = 2 + (id % 4).toInt)
          case 3 => MediaFixtures.ico(32 + (id % 64).toInt, 32 + (id % 32).toInt,
            count = 1 + (id % 3).toInt, seed = (id % 200).toInt)
          case 4 => MediaFixtures.wav(1, 8000, 100 + (id % 50).toInt, (id % 100).toInt)
          case 5 => MediaFixtures.aiff(1, 16000, 100 + (id % 50).toInt, (id % 100).toInt)
          case 6 =>
            // heif/avif alternating; half carry a thumbnail whose ispe is
            // listed FIRST (the canvas must still win via pitm/ipma)
            MediaFixtures.heif(32 + (id % 100).toInt, 24 + (id % 50).toInt,
              brand = if ((id / 8) % 2 == 0) "heic" else "avif",
              thumb = if (id % 16 == 6) Some((8, 6)) else None,
              thumbFirst = true)
          case _ =>
            // opaque binary no parser claims (all bytes >= 0x80, so the
            // html '<'-scan cannot claim it either) -> marked stub row
            Array.tabulate(16 + (id % 32).toInt)(i =>
              (0x80 | ((id + i * 7) & 0x7f)).toByte)
        }
      }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("n_frames"), col("error"))
        .orderBy("doc_id")
    },

    // WAV/RIFF header parse feeding the K6 duration algebra: channels /
    // frame_rate / duration from real PCM bytes, then MediaOps.speedup
    Query("mm_audio_wav", "WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS channels, " +
        "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 " +
        "ELSE 44100 END AS rate, " +
        "CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits, " +
        "CASE WHEN doc_id % 5 = 0 THEN 100 ELSE 500 + (doc_id % 7) * 37 END AS frames, " +
        "CASE WHEN doc_id % 5 = 0 THEN doc_id % 50 ELSE doc_id % 100 END AS seed " +
        "FROM documents) " +
        "SELECT doc_id, CAST(channels AS INT) AS channels, CAST(rate AS INT) AS frame_rate, " +
        "CAST(bits AS INT) AS bits_per_sample, " +
        // duration = dataBytes*1000/byteRate = frames*1000/rate at any depth
        "CAST(frames * 1000 // rate AS BIGINT) AS duration_ms, " +
        "CAST((frames * 1000 // rate) // 2 AS BIGINT) AS duration_x2_ms, " +
        // 16-bit samples are ((seed+f)%4096)-2048 with n<4096 (no wrap);
        // 8-bit are ((seed+f)%256)-128 with seed+n<256 (no wrap) -> both
        // arithmetic series with the depth's bias
        "CAST(frames * channels * (seed - CASE WHEN bits = 8 THEN 128 ELSE 2048 END) " +
        "+ frames * channels * (frames * channels - 1) // 2 AS BIGINT) AS sample_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      val parsed = perDoc(s, dir) { id =>
        val channels = 1 + (id % 2).toInt
        val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
        // every fifth payload is 8-bit PCM with wrap-free sample params
        // (n <= 200 and seed + n < 256 keep the oracle an arithmetic series)
        val bits = if (id % 5 == 0) 8 else 16
        val frames = if (bits == 8) 100 else 500 + (id % 7).toInt * 37
        val seed = if (bits == 8) (id % 50).toInt else (id % 100).toInt
        val bytes = MediaFixtures.wav(channels, rate, frames, seed, bits)
        val m = MediaCodecs.parseWav(bytes)
        val sampleSum = MediaCodecs.wavSampleSum(bytes)
        (id, m.channels, m.frameRate, m.bitsPerSample, m.durationMs, sampleSum)
      }.toDF("doc_id", "channels", "frame_rate", "bits_per_sample", "duration_ms",
        "sample_sum")
      MediaOps.speedup(parsed.withColumn("orig_ms", col("duration_ms")), 2.0)
        .select(col("doc_id"), col("channels").cast("int").as("channels"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("bits_per_sample").cast("int").as("bits_per_sample"),
          col("orig_ms").cast("bigint").as("duration_ms"),
          col("duration_ms").cast("bigint").as("duration_x2_ms"),
          col("sample_sum").cast("bigint").as("sample_sum"))
        .orderBy("doc_id")
    },

    // REAL pixel geometry ops (the reference's Pillow preprocessing chain,
    // image_converters.py:80-105): decode a row-constant BMP fixture, apply
    // one op from the wheel (crop / rotate90 / flipH / nearest-resize /
    // invert), encode the RESULT to png, re-decode THAT, and report
    // dims/mode/pixel-sum — all recomputed closed-form by the oracle (the
    // fixture rows are (seed + y) % 256 with no wrap, so every op's sum is
    // an arithmetic series or a center-mapped sampling of one).
    Query("ic_ops",
      // crop drops the first/last row+column of a row-constant raster;
      // rotate90/flipH preserve the sum; nearest-resize samples row
      // (2f+1)*h // (2*(h+3)) per destination row f (center mapping,
      // truncating like the engine); invert is 255-complement per channel
      "WITH p AS (SELECT doc_id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents), " +
        "b AS (SELECT *, 3 * w * (h * seed + h * (h - 1) // 2) AS full_sum FROM p) " +
        "SELECT doc_id, " +
        "CASE doc_id % 5 WHEN 0 THEN 'crop' WHEN 1 THEN 'rotate90' " +
        "WHEN 2 THEN 'flip_h' WHEN 3 THEN 'resize' ELSE 'invert' END AS op, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN w - 2 WHEN 1 THEN h WHEN 3 THEN 2 * w " +
        "ELSE w END AS INT) AS width, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN h - 2 WHEN 1 THEN w WHEN 3 THEN h + 3 " +
        "ELSE h END AS INT) AS height, " +
        "'RGB' AS mode, " +
        "CAST(CASE doc_id % 5 " +
        "WHEN 0 THEN 3 * (w - 2) * ((h - 2) * (seed + 1) + (h - 2) * (h - 3) // 2) " +
        "WHEN 3 THEN 3 * 2 * w * (SELECT SUM(seed + (2 * t.f + 1) * h // (2 * (h + 3))) " +
        "FROM generate_series(0, 12) AS t(f) WHERE t.f < h + 3) " +
        "WHEN 4 THEN 3 * w * h * 255 - full_sum " +
        "ELSE full_sum END AS BIGINT) AS pixel_sum " +
        "FROM b ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 6 + (id % 8).toInt
        val h = 5 + (id % 6).toInt
        val seed = (id % 200).toInt
        val buf = ImageConvert.decodePixels(MediaFixtures.bmp(w, h, 24, seed))._2
        val (opName, out) = (id % 5) match {
          case 0 => ("crop", ImageConvert.crop(buf, 1, 1, w - 1, h - 1))
          // the GENERAL inverse-mapped rotation (arbitrary-angle path),
          // which must land pixel-identical to the exact 90 move — so
          // the closed-form oracle covers the transform math too
          case 1 => ("rotate90", ImageConvert.rotateGeneral(buf, 90.0))
          case 2 => ("flip_h", ImageConvert.flip(buf, "horizontal"))
          case 3 => ("resize", ImageConvert.resizeNearest(buf, 2 * w, h + 3))
          case _ => ("invert", ImageConvert.invert(buf))
        }
        val meta = MediaCodecs.decodeImage(ImageConvert.encode(out, "png")).get
        (id, opName, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "op", "width", "height", "mode", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // Header-level dims for the REST of the reference's Pillow input
    // whitelist (image_converters.py:42-48): psd, icns, pcx, jp2, tga,
    // eps, xbm, xpm, svg, svgz — each fixture writes the format's real
    // published header layout; the features kernel must report the real
    // dimensions with an EMPTY error (no whitelist format may fall to the
    // marked stub row when its dims are right there in the bytes).
    Query("mm_headers", "SELECT doc_id, " +
        "CASE doc_id % 10 WHEN 0 THEN 'image/vnd.adobe.photoshop' " +
        "WHEN 1 THEN 'image/icns' WHEN 2 THEN 'image/x-pcx' " +
        "WHEN 3 THEN 'image/jp2' WHEN 4 THEN 'image/x-tga' " +
        "WHEN 5 THEN 'application/postscript' WHEN 6 THEN 'image/x-xbitmap' " +
        "WHEN 7 THEN 'image/x-xpixmap' ELSE 'image/svg+xml' END AS media_type, " +
        "CAST(CASE WHEN doc_id % 10 = 1 THEN " +
        "(CASE doc_id % 6 WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 256 WHEN 4 THEN 512 ELSE 1024 END) " +
        "ELSE 20 + doc_id % 80 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 10 = 1 THEN " +
        "(CASE doc_id % 6 WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 256 WHEN 4 THEN 512 ELSE 1024 END) " +
        "ELSE 12 + doc_id % 60 END AS INT) AS height, " +
        "'' AS error FROM documents ORDER BY doc_id") { (s, dir) =>
      val media = mediaRows(s, dir) { id =>
        val w = 20 + (id % 80).toInt
        val h = 12 + (id % 60).toInt
        (id % 10) match {
          case 0 => MediaFixtures.psd(w, h)
          case 1 => MediaFixtures.icns(Seq(16,
            Seq(32, 64, 128, 256, 512, 1024)((id % 6).toInt)))
          case 2 => MediaFixtures.pcx(w, h)
          case 3 => MediaFixtures.jp2(w, h)
          case 4 => MediaFixtures.tga(w, h)
          case 5 => MediaFixtures.eps(w, h)
          case 6 => MediaFixtures.xbm(w, h)
          case 7 => MediaFixtures.xpm(w, h)
          case 8 => MediaFixtures.svg(w, h)
          case _ => MediaFixtures.svg(w, h, gzipped = true)
        }
      }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("error"))
        .orderBy("doc_id")
    },

    // images -> PDF (the reference's create_pdf, image_converters.py:
    // 181-222): per row, build 2-4 BMP pages, write a REAL multi-page PDF
    // (FlateDecode image XObjects), read the pages back with the
    // independent image-XObject reader, and report page count + per-page-
    // summed samples — all recomputed closed-form from the row-constant
    // fixture patterns.
    Query("ic_pdf",
      // page j of row doc_id: w = 4+(doc_id+j)%5, h = 3+(doc_id+j)%4,
      // seed = (doc_id+7j)%200; BMP rows are (seed+y), RGB triples the
      // row sums (no wrap: seed+h < 256)
      "WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents) " +
        "SELECT doc_id, CAST(n AS INT) AS num_pages, " +
        "CAST(4 + doc_id % 5 AS INT) AS w0, CAST(3 + doc_id % 4 AS INT) AS h0, " +
        "CAST((SELECT SUM(3 * (4 + (doc_id + t.j) % 5) * " +
        "((3 + (doc_id + t.j) % 4) * ((doc_id + 7 * t.j) % 200) " +
        "+ (3 + (doc_id + t.j) % 4) * (2 + (doc_id + t.j) % 4) // 2)) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < n) AS BIGINT) AS total_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val n = 2 + (id % 3).toInt
        val pages = (0 until n).map { j =>
          MediaFixtures.bmp(4 + ((id + j) % 5).toInt, 3 + ((id + j) % 4).toInt, 24,
            seed = ((id + 7 * j) % 200).toInt)
        }
        val pdf = ImageConvert.imagesToPdf(pages)
        val metas = ImageConvert.pdfImages(pdf)
        (id, metas.length, metas.head.width, metas.head.height,
          metas.map(_.pixelSum).sum)
      }.toDF("doc_id", "num_pages", "w0", "h0", "total_sum")
        .transform(retype("num_pages" -> "int", "w0" -> "int", "h0" -> "int",
          "total_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // REAL convolution filters (the reference's apply_filter registry,
    // image_converters.py:224-284): an L raster whose rows carry the
    // QUADRATIC value seed + y*y (second difference 2, so symmetric 3x3
    // kernels are NOT identity), one filter per row from the wheel, then
    // png-encode -> re-decode. On this pattern every kernel's interior
    // output is closed-form: emboss = v(y)-v(y-1)+128 = 127+2y; contour =
    // clamp(-6+255) = 249; find_edges = clamp(-6) = 0; sharpen =
    // (16v-12)/16 = v-1 (truncating). Border ring is copied unfiltered.
    Query("ic_filter",
      // raster value v(y) = seed + y*y (no wrap: seed < 150, y <= 9);
      // border rows/cols copied; interior per-row outputs as derived in the
      // query comment (emboss 127+2y, contour 249, find_edges 0, sharpen
      // v(y)-1 via truncating (16v-12)/16)
      "WITH p AS (SELECT doc_id, 7 + doc_id % 6 AS w, 6 + doc_id % 5 AS h, " +
        "doc_id % 150 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'emboss' WHEN 1 THEN 'contour' " +
        "WHEN 2 THEN 'find_edges' ELSE 'sharpen' END AS filter, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w * (seed + seed + (h - 1) * (h - 1)) " + // border rows y=0, h-1
        "+ (SELECT SUM(2 * (seed + t.y * t.y) + (w - 2) * " + // border cols + interior
        "CASE doc_id % 4 WHEN 0 THEN 127 + 2 * t.y WHEN 1 THEN 249 " +
        "WHEN 2 THEN 0 ELSE seed + t.y * t.y - 1 END) " +
        "FROM generate_series(1, 8) AS t(y) WHERE t.y < h - 1) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        import MediaCodecs.PixelBuf
        val w = 7 + (id % 6).toInt
        val h = 6 + (id % 5).toInt
        val seed = (id % 150).toInt
        val buf = new PixelBuf
        buf.init("L", w, h)
        for (y <- 0 until h; x <- 0 until w)
          buf.data(y * w + x) = (seed + y * y).toByte
        val name = Seq("emboss", "contour", "find_edges", "sharpen")((id % 4).toInt)
        val out = ImageConvert.convolve(buf, name)
        val meta = MediaCodecs.decodeImage(ImageConvert.encode(out, "png")).get
        (id, name, meta.width, meta.height, meta.pixelSum)
      }.toDF("doc_id", "filter", "width", "height", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // Production JPEG ENCODE (the reference's `img.save(..., "JPEG",
    // quality=...)` direction, image_converters.py:118-137): band-constant
    // sources re-encode through convertImage and our own (already-oracled)
    // decoder reads the output back. Flat 8x8 blocks have DC-only DCTs and
    // at qualities 95 AND 93 the scaled DC steps are 2 for both luma
    // ((16*10+50)/100 = (16*14+50)/100 = 2) and chroma, dividing the even
    // 8*(v-128), so the lossy path is EXACTLY verifiable at both settings:
    // the closed-form pixel sum is the same as the decode oracle's, and the
    // quality knob itself is oracle-covered. Color rows carry neutral
    // chroma; half also exercise the grayscale preprocessing knob.
    Query("ic_jpeg",
      // band-constant row y holds (seed + y//8) % 256 (no wrap: seed < 200,
      // <= 4 bands); exact round-trip at q95 (even ids) and q93 (odd ids —
      // both scale the DC steps to 2), so the sum is the decode
      // oracle's closed form; color ids (doc_id%3=0) stay RGB (x3) unless
      // the grayscale knob fires (doc_id%6=0 -> L, r=g=b so L = v exactly)
      "WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 6 = 3 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 6 = 3 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + 4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 10 + (id % 23).toInt
        val h = 9 + (id % 20).toInt
        val seed = (id % 200).toInt
        val color = id % 3 == 0
        val src =
          if (color) JpegWriter.generateColor(w, h, seed)
          else JpegWriter.generate(w, h, seed)
        val out = ImageConvert.convertImage(src, "jpeg",
          ImageConvert.ImageOpts(grayscale = color && id % 2 == 0,
            quality = if (id % 2 == 0) 95 else 93))
        val meta = MediaCodecs.decodeImage(out).get
        (id, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "width", "height", "mode", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // ICO + EPS ENCODE (the last two raster formats in the reference's
    // output whitelist, image_converters.py:50-52): row-content BMP sources
    // convert to a PNG-in-ICO icon (even ids) or an EpsImagePlugin-shaped
    // hex-raster EPS (odd ids) and re-decode through decodePixels — both
    // lossless, so dims/mode/pixel-sum verify in closed form; half the rows
    // also push the grayscale knob through each target (r=g=b so L = v).
    Query("ic_ico",
      // BMP row y carries value seed+y in every channel (no wrap: seed<200,
      // h<=9); both targets are lossless, so sum = factor * w * (h*seed +
      // h(h-1)/2) with factor 3 for RGB rows, 1 for grayscale-knob rows
      // (r=g=b makes the L conversion exact)
      "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'ico' ELSE 'eps' END AS dst_fmt, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'ico' ELSE 'eps' END AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 4 IN (1, 2) THEN 'L' ELSE 'RGB' END AS mode, " +
        "CAST((CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 3 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 4 + (id % 6).toInt
        val seed = (id % 200).toInt
        val src = MediaFixtures.bmp(w, h, 24, seed)
        val dst = if (id % 2 == 0) "ico" else "eps"
        val gray = id % 4 == 1 || id % 4 == 2
        val out = ImageConvert.convertImage(src, dst, ImageConvert.ImageOpts(grayscale = gray))
        val (meta, _) = ImageConvert.decodePixels(out)
        (id, dst, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "dst_fmt", "format", "width", "height", "mode", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // CLASSIC (DIB) ICO INPUT (Pillow's IcoImagePlugin open path — the
    // reference accepts .ico inputs, image_converters.py:42-46): XOR
    // bitmap + AND mask composite to RGBA (every third row transparent),
    // converted to PNG and re-decoded; dims/mode/pixel-sum verify in
    // closed form from the hand-packed fixture's row-banded content.
    Query("ic_ico_dib",
      // XOR rows carry seed+y in every channel (3·w·(h·seed + h(h−1)/2));
      // the AND mask zeroes alpha on rows y % 3 == 0 (count ⌈h/3⌉ =
      // (h+2)//3), the rest contribute 255·w each — RGBA sum convention
      "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 8 END AS INT) AS bpp, " +
        "'png' AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, 'RGBA' AS mode, " +
        "CAST(3 * w * (h * seed + h * (h - 1) // 2) " +
        "+ 255 * w * (h - (h + 2) // 3) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 4 + (id % 6).toInt
        val seed = (id % 200).toInt
        val bpp = if (id % 2 == 0) 24 else 8
        val src = MediaFixtures.icoDib(w, h, bpp, seed)
        val out = ImageConvert.convertImage(src, "png")
        val (meta, _) = ImageConvert.decodePixels(out)
        (id, bpp, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "bpp", "format", "width", "height", "mode", "pixel_sum")
        .transform(retype("bpp" -> "int", "width" -> "int", "height" -> "int",
          "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // WebP ENCODE (the reference's `.webp` output arm,
    // image_converters.py:50-52 and :122-126): cross-format sources (BMP,
    // PNG, GIF, TIFF) convert to lossless VP8L and re-decode through the
    // codec's own conforming reader — pixel-exact, so dims/mode/sums verify
    // closed-form. Half the rows push the grayscale knob; webp has no gray
    // layout, so they come back as gray RGB (the same 3x sum).
    Query("ic_webp",
      // every source format carries value seed+y in each channel at row y
      // (gif via its gray palette), and VP8L is lossless with RGB the only
      // non-alpha layout — so mode is always RGB and the sum is always
      // 3 * w * (h*seed + h(h-1)/2), grayscale knob or not (r=g=b)
      "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'webp' AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, 'RGB' AS mode, " +
        "CAST(3 * w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 4 + (id % 6).toInt
        val seed = (id % 200).toInt
        val src = (id % 4) match {
          case 0 => MediaFixtures.bmp(w, h, 24, seed)
          case 1 => MediaFixtures.png(w, h, 2, seed)
          case 2 => MediaFixtures.gif(w, h, seed)
          case _ => MediaFixtures.tiff(w, h, rgb = true,
            bigEndian = id % 8 == 3, seed)
        }
        val out = ImageConvert.convertImage(src, "webp",
          ImageConvert.ImageOpts(grayscale = id % 2 == 1))
        val (meta, _) = ImageConvert.decodePixels(out)
        (id, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "format", "width", "height", "mode", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // Lanczos-3 resize (the reference's LANCZOS resampler,
    // image_converters.py:82-84) with closed-form arms: a horizontal-only
    // resize of row-banded content keeps every row's value (weights
    // normalize to 1 within a constant row), and any resize of constant
    // content keeps the constant — so the windowed-sinc path verifies
    // exactly without pinning library float bytes. Even ids go through the
    // full convertImage preprocessing chain (resize knob + png encode).
    Query("ic_resize",
      // even ids: horizontal-only stretch of row-banded content (row y is
      // seed+y in every channel, wrap-free) -> rows keep their value, sum =
      // 3*(w+3)*(h*seed + h(h-1)/2); odd ids: a constant raster (seed) to
      // (w+2)x(h+5) -> sum = 3*(w+2)*(h+5)*seed
      "WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN w + 3 ELSE w + 2 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN h ELSE h + 5 END AS INT) AS height, " +
        "'RGB' AS mode, " +
        "CAST(CASE WHEN doc_id % 2 = 0 " +
        "THEN 3 * (w + 3) * (h * seed + h * (h - 1) // 2) " +
        "ELSE 3 * (w + 2) * (h + 5) * seed END AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val w = 5 + (id % 9).toInt
        val h = 4 + (id % 6).toInt
        val seed = (id % 200).toInt
        val out =
          if (id % 2 == 0) {
            // banded rows, horizontal-only stretch via the full surface
            val bmp = MediaFixtures.bmp(w, h, 24, seed)
            ImageConvert.convertImage(bmp, "png",
              ImageConvert.ImageOpts(resize = Some((w + 3, h))))
          } else {
            // constant raster (one source row), both axes resized
            val bmp = MediaFixtures.bmp(w, 1, 24, seed)
            ImageConvert.encode(ImageConvert.resizeLanczos(
              ImageConvert.decodePixels(bmp)._2, w + 2, h + 5), "png")
          }
        val meta = MediaCodecs.decodeImage(out).get
        (id, meta.width, meta.height, meta.mode, meta.pixelSum)
      }.toDF("doc_id", "width", "height", "mode", "pixel_sum")
        .transform(retype("width" -> "int", "height" -> "int", "pixel_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // FLAC ENCODE (the reference's `.flac` output arm with its
    // compression_level kwarg, audio_converters.py:95-99): PCM containers
    // in, real compressed FLAC out (fixed predictors + Rice), re-decoded
    // by the codec's own frame walk — lossless, so every field verifies
    // closed-form; the decoder also checks each frame's CRC-16 and the
    // STREAMINFO MD5 (computed from the SOURCE samples), so a bit-layout
    // drift cannot pass. Tags ride a VORBIS_COMMENT block through the same
    // parseFlac reader mm_audio_tags uses.
    Query("ac_flac",
      // interleaved sample j of the fixture is seed + j - 2048 (16-bit
      // arm, no wrap: seed < 100, n*ch <= 720); lossless (incl. the
      // stereo-decorrelated rows), so over m = n*ch samples the sum is
      // m*seed + m(m-1)/2 - 2048m regardless of compression level
      "WITH p AS (SELECT doc_id, doc_id % 100 AS seed, " +
        "(160 + (doc_id % 5) * 40) * " +
        "(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) AS m FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 5 " +
        "ELSE 8 END AS INT) AS level, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS channels, " +
        "CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS frame_rate, " +
        "CAST(160 + (doc_id % 5) * 40 AS INT) AS frames_out, " +
        "CAST(m * seed + m * (m - 1) // 2 - 2048 * m AS BIGINT) AS sample_sum, " +
        "'T' || doc_id AS title " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
        val n = 160 + (id % 5).toInt * 40
        val seed = (id % 100).toInt
        // every third row is STEREO: the fixture interleaves one ramp
        // across both channels (r = l + 1), so the encoder's stereo
        // decorrelation fires (near-silent side channel) and the
        // decoder's side-channel reconstruction is oracled, not just
        // unit-tested; sample_sum stays one closed form over the
        // interleaved index
        val ch = if (id % 3 == 0) 2 else 1
        val in =
          if (id % 2 == 0) MediaFixtures.wav(ch, rate, n, seed)
          else MediaFixtures.aiff(ch, rate, n, seed)
        val level = Seq(0, 1, 5, 8)((id % 4).toInt)
        val flac = FlacCodec.encode(AudioConvert.decodeSamples(in), level,
          Seq("TITLE" -> s"T$id"))
        val out = AudioConvert.decodeSamples(flac)
        val meta = MediaCodecs.parseFlac(flac)
        (id, level, out.channels, out.frameRate, out.frames,
          out.samples.foldLeft(0L)(_ + _), meta.tags("title"))
      }.toDF("doc_id", "level", "channels", "frame_rate", "frames_out",
        "sample_sum", "title")
        .transform(retype("level" -> "int", "channels" -> "int", "frame_rate" -> "int",
          "frames_out" -> "int", "sample_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // MP3 SAMPLE DECODE (the reference loads mp3 payloads through pydub
    // for its whole convert surface, audio_converters.py:40-44,67-75):
    // full Layer III decode of the 13 committed conformance fixtures —
    // MPEG-1 + LSF, mono/stereo/MS/intensity, long/short/mixed/start/stop
    // blocks, escape tables + both count1 tables, plus a real third-party
    // LAME bitstream — then a lossless flac re-encode/re-decode proving
    // the decoded PCM rides the whole convert surface. The oracle carries
    // the int16-PCM digests pinned by the from-scratch Python reference
    // decoder (scripts/mp3ref, mp3/manifest.tsv); Mp3Codec mirrors it
    // bit-exactly over shared binary constants.
    // OGG VORBIS SAMPLE DECODE (the reference loads ogg payloads through
    // pydub, audio_converters.py:40-44): full Vorbis I decode of the 12
    // committed conformance fixtures — in-stream codebooks (sparse /
    // ordered / lookup 1+2), floor 1 incl. subclasses+masterbook and
    // multipliers 1-4, residue types 0/1/2 with a cascaded 2-pass arm,
    // square-polar coupling, multiplexed submaps, 256..8192 block
    // switching, a comment packet spanning ogg pages, and granule
    // end-trim — then a lossless wav re-encode/re-decode proving the PCM
    // rides the whole convert surface. The oracle carries the int16-PCM
    // digests pinned by the from-scratch Python reference decoder
    // (scripts/vorbisref, vorbis/manifest.tsv); VorbisCodec mirrors it
    // bit-exactly over the shared vorbistables.bin constants.
    Query("ac_ogg",
      // constants are the Python reference decoder's int16-PCM digests
      // over the committed fixtures (scripts/vorbisref/gen_fixtures.py ->
      // vorbis/manifest.tsv); frames is per channel, sum/max over the
      // interleaved stream
      "WITH f(k, fixture, frame_rate, channels, frames, pcm_md5, " +
        "sample_sum, max_abs) AS (VALUES " +
        "(0, 'v_mono_long', 44100, 1, 7168, '935fee94cb49f389453e3f6bb7fdb2b2', 83364, 18297), " +
        "(1, 'v_mono_short', 22050, 1, 2688, '5db8f1cadcd1a8fe606d3b5523979bd0', 99939, 15752), " +
        "(2, 'v_blockswitch', 44100, 1, 7936, '732586b75ab61dcadb063de8fccd5d07', 166839, 16309), " +
        "(3, 'v_stereo_coupled', 48000, 2, 7168, '412daeb0ce0c4cbeafeaaa26d829482b', -530565, 15395), " +
        "(4, 'v_stereo_res1', 32000, 2, 6144, '3b52796d9abbaca9f9e1d58e36fcd46b', 67982, 13753), " +
        "(5, 'v_res0', 16000, 1, 3584, '495b72e021f87aafbee9f6a9f6fa224e', -214176, 16601), " +
        "(6, 'v_cascade', 44100, 1, 7168, 'd075795bcf23fd4f83a2c4fca588634f', 86912, 15342), " +
        "(7, 'v_silent_ch', 44100, 2, 6144, 'dd99a4737a595454162aa6baf82d4448', -117466, 14076), " +
        "(8, 'v_submaps', 44100, 3, 6144, '2eaf7a2e5866e77551370d49ff95259d', 298838, 13201), " +
        "(9, 'v_sparse_ordered', 24000, 1, 6144, '717c967e774b16f57517cb6996eded1b', 123571, 16273), " +
        "(10, 'v_longcomment', 8000, 1, 2503, 'b68aa2a9f1c6333759ceab1ebe36b5ce', -37823, 15050), " +
        "(11, 'v_big_blocks', 11025, 1, 12288, '3e7be36dd3ff3a6347d88623be841cec', -209993, 16197)) " +
        "SELECT d.doc_id, f.fixture, CAST(f.frame_rate AS INT) AS frame_rate, " +
        "CAST(f.channels AS INT) AS channels, CAST(f.frames AS INT) AS frames, " +
        "f.pcm_md5, CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, TRUE AS wav_roundtrip_ok " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 12 ORDER BY d.doc_id") { (s, dir) =>
      val names = Array("v_mono_long", "v_mono_short", "v_blockswitch",
        "v_stereo_coupled", "v_stereo_res1", "v_res0", "v_cascade",
        "v_silent_ch", "v_submaps", "v_sparse_ordered", "v_longcomment",
        "v_big_blocks")
      perDoc(s, dir) { id =>
        val name = names((id % 12).toInt)
        val in = getClass.getResourceAsStream(s"/vorbis/$name.ogg")
        val bytes = in.readAllBytes(); in.close()
        val buf = VorbisCodec.decodeSamples(bytes)
        val md5 = pcmMd5(buf.samples)
        val back = AudioConvert.decodeSamples(AudioConvert.encode(buf, "wav"))
        (id, name, buf.frameRate, buf.channels, buf.frames,
          md5, buf.samples.foldLeft(0L)(_ + _),
          buf.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
          back.samples.sameElements(buf.samples))
      }.toDF("doc_id", "fixture", "frame_rate", "channels", "frames",
        "pcm_md5", "sample_sum", "max_abs", "wav_roundtrip_ok")
        .transform(retype("frame_rate" -> "int", "channels" -> "int", "frames" -> "int",
          "sample_sum" -> "bigint", "max_abs" -> "int"))
        .orderBy("doc_id")
    },
    Query("ac_mp3",
      // constants are the Python reference decoder's int16-PCM digests
      // over the committed fixtures (scripts/mp3ref/gen_fixtures.py ->
      // mp3/manifest.tsv); frames is per channel, sum/max over the
      // interleaved stream
      "WITH f(k, fixture, frame_rate, channels, frames, pcm_md5, " +
        "sample_sum, max_abs) AS (VALUES " +
        "(0, 'm1_mono_tones', 44100, 1, 3456, 'f579d1cf84ae490243e219195ff1c854', -7740, 12863), " +
        "(1, 'm1_stereo_lr', 48000, 2, 3456, 'ff8a906cf5158187c02ef1c3be8474ac', 2051, 17649), " +
        "(2, 'm1_ms_stereo', 44100, 2, 3456, '9f6b8c8c215bf1137ef61ec107104494', 1549, 12619), " +
        "(3, 'm1_scalefacs', 32000, 1, 3456, 'fa0c5b951b200860ac5411184acebd88', -1986, 16909), " +
        "(4, 'm2_lsf_mono', 22050, 1, 2304, '9139a4b72738ab81ea8bb43fca2b30f8', 163201, 12779), " +
        "(5, 'm2_lsf_ms', 24000, 2, 2304, '254e5924cb71ffe406cff30f63c4e202', 475055, 12581), " +
        "(6, 'm1_short_blocks', 44100, 1, 2304, 'b78795b8a07c57096e9eabfe1378c1f1', 451669, 23059), " +
        "(7, 'm1_mixed_blocks', 44100, 1, 2304, 'e114cb30f5580baf50d6fbdb094e988d', 63748, 6327), " +
        "(8, 'm1_start_stop', 48000, 1, 2304, '73a58d6ceea17f8a12032f0a6ec73f78', 684983, 25660), " +
        "(9, 'm1_escape_count1b', 44100, 1, 2304, '31ac2ec0dbebe2ab6c62e61263d02819', 576290, 24811), " +
        "(10, 'm1_intensity', 44100, 2, 2304, 'b3f900e1ac118713fbf2a4ca47a3a17e', -746533, 21223), " +
        "(11, 'm1_ms_intensity', 44100, 2, 2304, '4b1bebfe6fd23719e60c075ba7cb1f1e', -262159, 14065), " +
        "(12, 'lame_silence', 22050, 1, 25920, '66cca182a32b80f027bcf4a350e76afa', 0, 0)) " +
        "SELECT d.doc_id, f.fixture, CAST(f.frame_rate AS INT) AS frame_rate, " +
        "CAST(f.channels AS INT) AS channels, CAST(f.frames AS INT) AS frames, " +
        "f.pcm_md5, CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, TRUE AS flac_roundtrip_ok " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 13 ORDER BY d.doc_id") { (s, dir) =>
      val names = Array("m1_mono_tones", "m1_stereo_lr", "m1_ms_stereo",
        "m1_scalefacs", "m2_lsf_mono", "m2_lsf_ms", "m1_short_blocks",
        "m1_mixed_blocks", "m1_start_stop", "m1_escape_count1b",
        "m1_intensity", "m1_ms_intensity", "lame_silence")
      perDoc(s, dir) { id =>
        val name = names((id % 13).toInt)
        val in = getClass.getResourceAsStream(s"/mp3/$name.mp3")
        val bytes = in.readAllBytes(); in.close()
        // allowRepaired: these fixtures are this repo's own encodes —
        // correct by construction for the repaired Huffman tables and
        // pinned by the reference decoder's digests (strict mode is the
        // user-facing AudioConvert default; see Mp3Codec.decodeChannels)
        val buf = Mp3Codec.decodeSamples(bytes, allowRepaired = true)
        val md5 = pcmMd5(buf.samples)
        val back = AudioConvert.decodeSamples(AudioConvert.encode(buf, "flac"))
        (id, name, buf.frameRate, buf.channels, buf.frames,
          md5, buf.samples.foldLeft(0L)(_ + _),
          buf.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
          back.samples.sameElements(buf.samples))
      }.toDF("doc_id", "fixture", "frame_rate", "channels", "frames",
        "pcm_md5", "sample_sum", "max_abs", "flac_roundtrip_ok")
        .transform(retype("frame_rate" -> "int", "channels" -> "int", "frames" -> "int",
          "sample_sum" -> "bigint", "max_abs" -> "int"))
        .orderBy("doc_id")
    },

    // OGG VORBIS SAMPLE ENCODE (the reference's ogg EXPORT target,
    // audio_converters.py:45-49 via pydub/ffmpeg): VorbisEncoder emits a
    // spec-valid Vorbis I stream (fitted floor 1 + type-2 lattice residue
    // over the shared vorbistables.bin constants) that VorbisCodec decodes
    // back with the EXACT input frame count (granule end-trim) at 25-29 dB
    // SNR. The oracle pins the decoded-PCM digests per wheel slot — the
    // same streams decode byte-identically under the independent Python
    // reference decoder (scripts/vorbisref/decoder.py; pinned in
    // VorbisEncoderSpec), so the constants are a two-decoder pin.
    Query("ac_ogg_encode",
      // constants pinned from the two-decoder cross-check: VorbisCodec and
      // the Python reference decoder (scripts/vorbisref/decoder.py) return
      // byte-identical PCM for VorbisEncoder's streams (VorbisEncoderSpec
      // pins the same digests); frames equals the tonePcm input exactly
      // (granule end-trim), snr floor'd dB vs the source
      "WITH f(k, channels, frame_rate, frames, ogg_bytes, pcm_md5, " +
        "sample_sum, max_abs, snr_db_floor) AS (VALUES " +
        "(0, 1, 44100, 9000, 9230, 'ff459ecb546260f21f5dcb475e6f9840', 193044, 18687, 29), " +
        "(1, 2, 48000, 5000, 10896, 'a95bbc5bf7383b90c43e8001230d85a5', 329023, 18865, 28), " +
        "(2, 1, 8000, 900, 3131, '83f69a403870b873f7ddcf6603411b80', 75981, 17865, 26), " +
        "(3, 2, 16000, 1024, 4852, '39b74e38af27ce33d7f2f54e671f8f5d', 90104, 19114, 25), " +
        "(4, 1, 22050, 3333, 5445, '5026bd479c30a01fee6c026ffd731b46', 194507, 18520, 28), " +
        "(5, 2, 11025, 2048, 5353, '601d91b58d09a29a620e8bee9b74b15e', 110659, 20731, 25)) " +
        "SELECT d.doc_id, CAST(f.channels AS INT) AS channels, " +
        "CAST(f.frame_rate AS INT) AS frame_rate, CAST(f.frames AS INT) AS frames, " +
        "CAST(f.ogg_bytes AS INT) AS ogg_bytes, f.pcm_md5, " +
        "CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, " +
        "CAST(f.snr_db_floor AS INT) AS snr_db_floor " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 6 ORDER BY d.doc_id") { (s, dir) =>
      val slots = Array((1, 44100, 9000), (2, 48000, 5000), (1, 8000, 900),
        (2, 16000, 1024), (1, 22050, 3333), (2, 11025, 2048))
      perDoc(s, dir) { id =>
        val (ch, rate, n) = slots((id % 6).toInt)
        val src = MediaFixtures.tonePcm(n, ch, rate)
        val ogg = VorbisEncoder.encode(AudioConvert.AudioBuf(ch, rate, 16, src))
        val back = VorbisCodec.decodeSamples(ogg)
        val md5 = pcmMd5(back.samples)
        var es = 0.0
        var en = 0.0
        var i = 0
        while (i < src.length) {
          val sv = src(i) / 32768.0
          val dv = back.samples(i) / 32768.0
          es += sv * sv; en += (sv - dv) * (sv - dv)
          i += 1
        }
        (id, back.channels, back.frameRate, back.frames, ogg.length,
          md5, back.samples.foldLeft(0L)(_ + _),
          back.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
          math.floor(10 * math.log10(es / en)).toInt)
      }.toDF("doc_id", "channels", "frame_rate", "frames", "ogg_bytes",
        "pcm_md5", "sample_sum", "max_abs", "snr_db_floor")
        .transform(retype("channels" -> "int", "frame_rate" -> "int", "frames" -> "int",
          "ogg_bytes" -> "int", "sample_sum" -> "bigint", "max_abs" -> "int",
          "snr_db_floor" -> "int"))
        .orderBy("doc_id")
    },

    // Audio CONVERT surface (the reference's pydub direction: load ->
    // effects -> export, audio_converters.py:50-127): every row CROSSES
    // containers (WAV fixture in -> AIFF out, AIFF fixture in -> WAV out),
    // applies one effect from the wheel (integer-exact speed / fadeOut /
    // slice), re-decodes its own output, and reports the pydub-shape
    // accounting. The oracle recomputes every field closed-form — the fade
    // arm's per-sample truncating-division series via generate_series
    // (DuckDB's integer // truncates toward zero, exactly like JVM /).
    Query("ac_convert",
      // Every field of the audio convert result recomputed closed-form:
      // the effect wheel is integer-exact by construction (speed = index
      // stride, slice = frame window, fadeOut = floorDiv ramp the SQL `//`
      // reproduces); canonical container sizes are 44 + data (wav) and
      // 54 + data (aiff); 16-bit mono samples are seed + f - 2048 (no wrap:
      // seed + n < 4096).
      "WITH p AS (SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 " +
        "ELSE 44100 END AS rate, " +
        "160 + (doc_id % 5) * 40 AS n, doc_id % 100 AS seed FROM documents), " +
        "q AS (SELECT doc_id, rate, n, seed, " +
        "LEAST(5 * rate // 1000, n) AS k, " +
        "2 * rate // 1000 AS a, LEAST(n, 25 * rate // 1000) AS b, " +
        "CASE doc_id % 3 WHEN 0 THEN n // 2 WHEN 1 THEN n " +
        "ELSE LEAST(n, 25 * rate // 1000) - 2 * rate // 1000 END AS fo FROM p) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'aiff' ELSE 'wav' END AS format_to, " +
        "CAST(1 AS INT) AS channels, CAST(rate AS INT) AS frame_rate, " +
        "CAST(2 AS INT) AS sample_width, CAST(fo AS INT) AS frames_out, " +
        "CAST((fo * 2000 + rate) // (2 * rate) AS BIGINT) AS duration_ms, " + // pydub len() rounds +
        // canonical container header sizes by input wheel: wav 44, aiff 54,
        // au 24, caf 68 (8 file hdr + 44 desc + 12 data hdr + 4 edit count)
        "CAST((CASE doc_id % 4 WHEN 0 THEN 44 WHEN 1 THEN 54 WHEN 2 THEN 24 " +
        "ELSE 68 END) + 2 * n AS BIGINT) AS orig_size, " +
        "CAST((CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END) + 2 * fo AS BIGINT) AS new_size, " +
        "CAST(CASE doc_id % 3 " +
        "WHEN 0 THEN (n // 2) * (seed - 2048) + (n // 2) * (n // 2 - 1) " +
        // constant series bounds (n <= 320): DuckDB's generate_series
        // rejects lateral column arguments, so filter per row instead
        "WHEN 1 THEN (SELECT SUM(CASE WHEN t.f < n - k THEN seed + t.f - 2048 " +
        "ELSE ((seed + t.f - 2048) * (n - 1 - t.f)) // k END) " +
        "FROM generate_series(0, 319) AS t(f) WHERE t.f < n) " +
        "ELSE (b - a) * (seed - 2048) + ((a + b - 1) * (b - a)) // 2 " +
        "END AS BIGINT) AS sample_sum " +
        "FROM q ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
        val n = 160 + (id % 5).toInt * 40
        val seed = (id % 100).toInt
        // input wheel spans all four PCM containers the surface decodes
        // (wav / aiff / au PCM16-BE / caf LE16) — identical sample series,
        // so the effects algebra below is container-invariant
        val in = (id % 4) match {
          case 0 => MediaFixtures.wav(1, rate, n, seed)
          case 1 => MediaFixtures.aiff(1, rate, n, seed)
          case 2 => MediaFixtures.au(3, 1, rate, n, seed)
          case _ => MediaFixtures.caf(1, rate, n, seed, little = true)
        }
        val fmt = if (id % 2 == 0) "aiff" else "wav"
        val r = (id % 3) match {
          case 0 => AudioConvert.convert(in, fmt, speed = 2)
          case 1 => AudioConvert.convert(in, fmt, fadeOutMs = 5)
          case _ => AudioConvert.convert(in, fmt,
            startMs = 2, endMs = 25)
        }
        val out = AudioConvert.decodeSamples(r.output)
        (id, r.formatTo, r.channels, r.frameRate, r.sampleWidth,
          out.frames, r.durationMs, r.originalSize, r.newSize,
          out.samples.foldLeft(0L)(_ + _))
      }.toDF("doc_id", "format_to", "channels", "frame_rate", "sample_width",
        "frames_out", "duration_ms", "orig_size", "new_size", "sample_sum")
        .transform(retype("channels" -> "int", "frame_rate" -> "int", "sample_width" -> "int",
          "frames_out" -> "int", "duration_ms" -> "bigint", "orig_size" -> "bigint",
          "new_size" -> "bigint", "sample_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // Sample-level audio merge (the reference's merge_audio fold,
    // audio_converters.py:183-192): 2-4 segments per row, containers
    // alternating per segment, concatenated and exported once; the oracle
    // recomputes frame counts, sizes, and the concatenated sample sum
    // closed-form from the fixtures' arithmetic series.
    Query("ac_merge",
      // segment j: frames 40 + ((doc_id+j)%5)*10, seed (doc_id+11j)%100;
      // sample f of a segment is seed + f - 2048 (no wrap); merged output
      // is the plain concatenation, so sums add per segment
      "WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k, " +
        "CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate FROM documents), " +
        "q AS (SELECT doc_id, k, rate, " +
        "(SELECT SUM(40 + ((doc_id + t.j) % 5) * 10) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < k) AS fo, " +
        "(SELECT SUM((40 + ((doc_id + t.j) % 5) * 10) * ((doc_id + 11 * t.j) % 100 - 2048) " +
        "+ (40 + ((doc_id + t.j) % 5) * 10) * (40 + ((doc_id + t.j) % 5) * 10 - 1) // 2) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < k) AS ssum FROM p) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'aiff' ELSE 'wav' END AS format_to, " +
        "CAST(k AS INT) AS n_segments, CAST(fo AS INT) AS frames_out, " +
        "CAST((fo * 2000 + rate) // (2 * rate) AS BIGINT) AS duration_ms, " + // pydub len() rounds +
        "CAST((CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END) + 2 * fo AS BIGINT) AS new_size, " +
        "CAST(ssum AS BIGINT) AS sample_sum " +
        "FROM q ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val k = 2 + (id % 3).toInt
        val rate = if (id % 2 == 0) 8000 else 16000
        val segs = (0 until k).map { j =>
          val n = 40 + ((id + j) % 5).toInt * 10
          val seed = ((id + 11 * j) % 100).toInt
          if (j % 2 == 0) MediaFixtures.wav(1, rate, n, seed)
          else MediaFixtures.aiff(1, rate, n, seed)
        }
        val fmt = if (id % 2 == 0) "aiff" else "wav"
        val r = AudioConvert.mergeAudio(segs, fmt)
        val dec = AudioConvert.decodeSamples(r.output)
        (id, r.formatTo, k, dec.frames, r.durationMs, r.newSize,
          dec.samples.foldLeft(0L)(_ + _))
      }.toDF("doc_id", "format_to", "n_segments", "frames_out", "duration_ms",
        "new_size", "sample_sum")
        .transform(retype("n_segments" -> "int", "frames_out" -> "int", "duration_ms" -> "bigint",
          "new_size" -> "bigint", "sample_sum" -> "bigint"))
        .orderBy("doc_id")
    },

    // Audio header sweep for the REST of the reference's pydub/mutagen
    // input whitelist (audio_converters.py:40-44): au/caf/tta/ape/wv/aac/
    // ac3/eac3/dts/mlp+truehd/wma/webm/mkv/opus/mp3 — the audio analog of
    // mm_headers. Channels/rate/duration all recomputed closed-form from
    // the fixture wheel (MLP/TrueHD report channels 0: layout not parsed).
    // The mp3 arm walks real MPEG-1/2 Layer III frame headers (duration =
    // frames x samples-per-frame / rate), a quarter of them ID3v2-prefixed
    // and half ID3v1-terminated.
    Query("ac_headers",
      // the fixture wheel's parameters recomputed closed-form: rates come
      // from each container's published code tables (wavpack/adts/ac3/dts
      // indices), durations from the sample/frame arithmetic in the query
      // comment; MLP/TrueHD channels are 0 by contract (layout not parsed)
      "WITH p AS (SELECT doc_id, doc_id % 15 AS arm, 1 + doc_id % 2 AS ch, " +
        "doc_id % 2 AS odd, doc_id % 3 AS m3, doc_id % 4 AS m4, " +
        "doc_id % 5 AS m5 FROM documents), " +
        "q AS (SELECT *, " +
        "CASE arm WHEN 2 THEN (CASE m4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 22050 ELSE 44100 END) " +
        "WHEN 14 THEN (CASE m3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END) " +
        "// (1 + odd) " +
        "WHEN 4 THEN (CASE m4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 44100 ELSE 48000 END) " +
        "WHEN 5 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 " +
        "WHEN 2 THEN 16000 ELSE 8000 END) " +
        "WHEN 6 THEN (CASE m3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END) " +
        "WHEN 7 THEN (CASE m3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END) " +
        "WHEN 8 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 " +
        "WHEN 2 THEN 32000 ELSE 24000 END) " +
        "WHEN 9 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 96000 " +
        "WHEN 2 THEN 44100 ELSE 88200 END) " +
        "WHEN 0 THEN 8000 WHEN 1 THEN 44100 WHEN 3 THEN 48000 " +
        "WHEN 10 THEN 44100 ELSE 48000 END AS rate FROM p) " +
        "SELECT doc_id, " +
        "CASE arm WHEN 0 THEN 'audio/basic' WHEN 1 THEN 'audio/x-caf' " +
        "WHEN 2 THEN 'audio/x-tta' WHEN 3 THEN 'audio/x-ape' " +
        "WHEN 4 THEN 'audio/x-wavpack' WHEN 5 THEN 'audio/aac' " +
        "WHEN 6 THEN 'audio/ac3' WHEN 7 THEN 'audio/eac3' " +
        "WHEN 8 THEN 'audio/vnd.dts' " +
        "WHEN 9 THEN (CASE WHEN odd = 0 THEN 'audio/mlp' ELSE 'audio/truehd' END) " +
        "WHEN 10 THEN 'audio/x-ms-wma' WHEN 11 THEN 'audio/webm' " +
        "WHEN 12 THEN 'video/x-matroska' WHEN 13 THEN 'audio/opus' " +
        "ELSE 'audio/mpeg' END AS media_type, " +
        "CAST(CASE arm WHEN 6 THEN 2 + odd WHEN 7 THEN 5 + odd " +
        "WHEN 8 THEN (CASE m4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 ELSE 5 END) " +
        "WHEN 9 THEN 0 ELSE ch END AS INT) AS channels, " +
        "CAST(rate AS INT) AS rate, " +
        "CAST(CASE arm " +
        "WHEN 0 THEN (800 + m5 * 80) * 1000 // 8000 " +
        "WHEN 1 THEN 10 * (1 + m4) " +
        "WHEN 2 THEN (1000 + (doc_id % 7) * 100) * 1000 // rate " +
        "WHEN 3 THEN (m4 * 1024 + 100 + m5 * 20) * 1000 // 48000 " +
        "WHEN 4 THEN (4800 + m5 * 480) * 1000 // rate " +
        "WHEN 5 THEN (3 + m4) * 1024 * 1000 // rate " +
        "WHEN 6 THEN (2 + m3) * 1536 * 1000 // rate " +
        "WHEN 7 THEN (2 + m3) * (CASE m4 WHEN 0 THEN 1 WHEN 1 THEN 2 " +
        "WHEN 2 THEN 3 ELSE 6 END) * 256 * 1000 // rate " +
        "WHEN 8 THEN (2 + m3) * 256 * 1000 // rate " +
        "WHEN 9 THEN (120 + m4 * 24) * 40000 // " +
        "(CASE WHEN m4 < 2 THEN 48000 ELSE 44100 END) " +
        "WHEN 10 THEN 1000 + (doc_id % 10) * 100 " +
        "WHEN 11 THEN 500 + (doc_id % 8) * 125 " +
        "WHEN 12 THEN 500 + (doc_id % 8) * 125 " +
        "WHEN 13 THEN 100 * (1 + m4) " +
        "ELSE (2 + m3) * (CASE WHEN odd = 1 THEN 576 ELSE 1152 END) * 1000 // rate " +
        "END AS BIGINT) AS duration_ms " +
        "FROM q ORDER BY doc_id") { (s, dir) =>
      perDoc(s, dir) { id =>
        val ch = 1 + (id % 2).toInt
        val bytes = (id % 15) match {
          case 0 => MediaFixtures.au(1, ch, 8000, 800 + (id % 5).toInt * 80, 0)
          case 1 => MediaFixtures.caf(ch, 44100, 441 * (1 + (id % 4).toInt),
            (id % 50).toInt, little = id % 2 == 0)
          case 2 => MediaFixtures.tta(ch,
            Seq(8000, 16000, 22050, 44100)((id % 4).toInt),
            1000 + (id % 7).toInt * 100)
          case 3 => MediaFixtures.ape(ch, 48000, 1024,
            1 + (id % 4).toInt, 100 + (id % 5).toInt * 20)
          case 4 => MediaFixtures.wavpack(mono = id % 2 == 0,
            Seq(1, 5, 9, 10)((id % 4).toInt), 4800 + (id % 5).toInt * 480)
          case 5 => MediaFixtures.adtsAac(Seq(3, 4, 8, 11)((id % 4).toInt),
            ch, 3 + (id % 4).toInt)
          case 6 => MediaFixtures.ac3((id % 3).toInt,
            2 * ((id % 5).toInt + 10), acmod = 2, lfeon = (id % 2).toInt,
            nFrames = 2 + (id % 3).toInt)
          case 7 => MediaFixtures.eac3((id % 3).toInt, (id % 4).toInt,
            128 + (id % 4).toInt * 64, acmod = 7, lfeon = (id % 2).toInt,
            nFrames = 2 + (id % 3).toInt)
          case 8 => MediaFixtures.dts(Seq(13, 8, 3, 12)((id % 4).toInt),
            Seq(0, 2, 6, 9)((id % 4).toInt), nblks = 7, frameBytes = 512,
            nFrames = 2 + (id % 3).toInt)
          case 9 => MediaFixtures.truehd(Seq(0, 1, 8, 9)((id % 4).toInt),
            120 + (id % 4).toInt * 24, mlp = id % 2 == 0)
          case 10 => MediaFixtures.asfWma(ch, 44100,
            1000 + (id % 10) * 100, (id % 2) * 3000)
          case 11 => MediaFixtures.webm(ch, 48000, 500 + (id % 8).toInt * 125)
          case 12 => MediaFixtures.webm(ch, 48000, 500 + (id % 8).toInt * 125,
            docType = "matroska", video = Some((640, 360)))
          case 13 => MediaFixtures.oggOpus(ch, preSkip = 312,
            granule = 312L + 4800 * (1 + (id % 4)))
          case _ => MediaFixtures.mp3Frames(mpeg2 = id % 2 == 1,
            bitrateIdx = Seq(5, 9, 14, 1)((id % 4).toInt),
            freqIdx = (id % 3).toInt, mono = id % 2 == 0,
            nFrames = 2 + (id % 3).toInt,
            id3 = if (id % 4 == 0) Seq("TIT2" -> s"T$id") else Nil,
            id3v1 = id % 8 < 4)
        }
        val m = MediaCodecs.audioHeader(bytes).get
        (id, m.mime, m.channels, m.rate, m.durationMs)
      }.toDF("doc_id", "media_type", "channels", "rate", "duration_ms")
        .transform(retype("channels" -> "int", "rate" -> "int", "duration_ms" -> "bigint"))
        .orderBy("doc_id")
    }
  )
}
