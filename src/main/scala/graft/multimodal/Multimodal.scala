package graft.multimodal

import org.apache.spark.sql.Dataset

import graft.util.Containment

/** Multimodal column handling for the training-data pipeline tier: media
  * payloads are opaque `binary` columns plus typed metadata; decode /
  * feature-extract run as batched per-partition kernels (the Scala analog of
  * `mapInPandas` batches).
  *
  * Image formats with a real pure-JVM decoder (BMP incl. RLE8, PNM, PNG
  * incl. Adam7, GIF incl. interlace/animation, JPEG baseline AND
  * progressive incl. 4:2:0 + DRI, TIFF incl. PackBits/LZW, lossless WebP
  * full-spec VP8L — [[MediaCodecs]]/[[JpegCodec]]/[[WebpCodec]]) and
  * RIFF/WAVE PCM decode for real; a payload in one of those families but
  * outside the supported profile (JPEG-in-TIFF, arithmetic-coded JPEG,
  * over-raster-cap VP8L, ...) yields a CONTAINED error row — or falls to
  * its header-metadata path where one exists — never fake numbers. MP4
  * payloads get real container metadata (duration/dimensions,
  * [[MediaCodecs.parseMp4]]); lossy/extended WebP and ICO get real
  * header-level dimensions ([[MediaCodecs.parseWebp]] /
  * [[MediaCodecs.parseIco]]). MJPEG-in-AVI clips get REAL per-frame sample
  * decode ([[MediaCodecs.parseAvi]] — every frame through [[JpegCodec]]).
  * A payload no real parser claims (inter-frame-compressed video samples,
  * opaque binaries) yields a row MARKED `error = "stub-decode"`
  * with zeroed dimensions — never fabricated numbers: the reference's
  * Pillow would throw on an undecodable image
  * (/root/reference/src/converters/image_converters.py:66-69), it never
  * invents pixels, and at 10^12 docs a downstream consumer must be able to
  * tell real metadata from placeholders IN THE DATA, not just in scaladoc.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, feature: Array[Float], error: String)

  /** Magic-prefix media sniffing (PNG/JPEG/GIF/BMP/PPM/RIFF/PDF/HTML/other)
    * — same pattern as the payload sniffer in [[graft.extract.Extractor]]. */
  def sniffMedia(bytes: Array[Byte]): String = {
    def at(i: Int, v: Int) = bytes.length > i && (bytes(i) & 0xff) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "image/png"
    else if (at(0, 0xff) && at(1, 0xd8)) "image/jpeg"
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F')) "image/gif"
    else if (MediaCodecs.isTiff(bytes)) "image/tiff"
    else if (MediaCodecs.isBmp(bytes)) "image/bmp"
    else if (MediaCodecs.isPpm(bytes))
      // P5 is a graymap, P6 a pixmap — distinct mimes by convention
      (if (bytes(1) == '5') "image/x-portable-graymap" else "image/x-portable-pixmap")
    else if (MediaCodecs.isWav(bytes)) "audio/wav"
    else if (MediaCodecs.isAiff(bytes)) "audio/aiff"
    else if (MediaCodecs.isWebp(bytes)) "image/webp"
    else if (MediaCodecs.isAvi(bytes)) "video/x-msvideo"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F')) "audio/riff"
    // HEIF/AVIF are ISO-BMFF too — the still-image brands must win the
    // ftyp claim before the generic movie arm
    else if (MediaCodecs.isHeif(bytes))
      (if (new String(bytes, 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
         .startsWith("avi")) "image/avif" else "image/heif")
    else if (MediaCodecs.isMp4(bytes)) "video/mp4"
    else if (MediaCodecs.isIco(bytes)) "image/x-icon"
    else if (at(0, '%') && at(1, 'P') && at(2, 'D') && at(3, 'F')) "application/pdf"
    else if (bytes.take(256).contains('<'.toByte)) "text/html"
    else "application/octet-stream"
  }

  /** The marker carried by rows whose payload no real decoder claims: a
    * real deployment plugs an actual codec (javax.imageio / ffmpeg-jni)
    * into the fallback arm of [[decodeFeatures]]; until then the row is
    * distinguishable from real decodes in the data itself. */
  val StubDecodeError = "stub-decode"

  /** Batched decode + feature extraction: one kernel instantiation per
    * partition (amortized setup — the mapInPandas batch analog), per-row
    * failure containment (error rows for parse failures; fatal VM errors
    * propagate and fail the task, [[graft.util.Containment]]). Image
    * payloads [[MediaCodecs.decodeImage]] recognizes (BMP/PNM/PNG/GIF/JPEG/
    * TIFF/lossless WebP) get REAL width/height/pixel-mean/frame-count; a
    * recognized format outside the supported profile (JPEG-in-TIFF, ...)
    * becomes an error row.
    * WAV/AIFF go through the real RIFF/FORM parses (n_frames = PCM frame
    * count, feature(0) = duration seconds); lossy/extended WebP and ICO
    * get real header dimensions. MJPEG-in-AVI clips decode every frame (n_frames measured
    * from pixels; feature = [duration seconds, mean pixel]).
    * An unclaimed payload yields zeroed metadata marked
    * `error = `[[StubDecodeError]] — nothing is ever fabricated. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup happens here (codec init in a real deployment)
      it.map { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        Containment.contained[MediaFeatures](e =>
          MediaFeatures(m.doc_id, "unknown", bytes.length.toLong, 0, 0, 0,
            Array.empty[Float], Containment.describe(e))) {
          val kind = sniffMedia(bytes)
          MediaCodecs.decodeImage(bytes) match {
            case Some(img) =>
              val mean = if (img.width == 0 || img.height == 0) 0f
                else img.pixelSum.toFloat / (img.width.toLong * img.height)
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                img.width, img.height, img.frames, Array(mean / 255f), "")
            case None if kind == "audio/wav" || kind == "audio/aiff" =>
              val pcm = if (kind == "audio/wav") MediaCodecs.parseWav(bytes)
                        else MediaCodecs.parseAiff(bytes)
              val frames = (pcm.dataBytes / (pcm.channels * (pcm.bitsPerSample / 8))).toInt
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                0, 0, frames, Array(pcm.durationMs / 1000f), "")
            case None if kind == "video/mp4" =>
              // real container metadata; sample decode would need the codec
              val v = MediaCodecs.parseMp4(bytes)
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                v.width, v.height, 0, Array(v.durationMs / 1000f), "")
            case None if kind == "video/x-msvideo" && MediaCodecs.isMjpegAvi(bytes) =>
              // REAL video sample decode: every MJPEG frame goes through
              // JpegCodec, so n_frames and the mean-pixel feature are
              // measured from pixels, not read from the header. AVIs whose
              // video stream declares any OTHER codec (Xvid/H.264/DIB)
              // fall through to the marked stub row — the inter-frame
              // contract below
              val v = MediaCodecs.parseAvi(bytes)
              val mean = if (v.frames == 0 || v.width == 0 || v.height == 0) 0f
                else v.pixelSum.toFloat /
                  (v.frames.toLong * v.width * v.height) / 255f
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                v.width, v.height, v.frames,
                Array(v.durationMs / 1000f, mean), "")
            case None if kind == "image/heif" || kind == "image/avif" =>
              // real primary-item canvas dims (pitm/ipma/ipco resolution);
              // pixel decode would need an HEVC/AV1 codec
              val d = MediaCodecs.parseHeif(bytes)
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                d.width, d.height, d.items, Array.empty[Float], "")
            case None if kind == "image/webp" =>
              // lossy VP8 / extended VP8X, plus legal-but-over-raster-cap
              // VP8L (in-cap lossless is claimed by decodeImage above with
              // full pixel decode): real header-level dimensions; no
              // feature is emitted (VP8 needs a codec, over-cap is bounded)
              val d = MediaCodecs.parseWebp(bytes)
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                d.width, d.height, d.frames, Array.empty[Float], "")
            case None if kind == "image/x-icon" =>
              // real ICONDIR parse: dims of the largest directory entry
              val d = MediaCodecs.parseIco(bytes)
              MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                d.width, d.height, d.frames, Array.empty[Float], "")
            case None if MediaCodecs.isEbml(bytes) =>
              // Matroska/WebM: real EBML walk — video tracks carry their
              // pixel dimensions, audio-only streams their duration
              val mk = MediaCodecs.parseMatroska(bytes)
              MediaFeatures(m.doc_id, MediaCodecs.matroskaMime(mk),
                bytes.length.toLong, mk.videoWidth, mk.videoHeight, 0,
                Array(mk.durationMs / 1000f), "")
            case None =>
              // last real probes: header-level metadata for the rest of
              // the reference's AUDIO whitelist (au/caf/tta/ape/wv/aac/
              // ac3/eac3/dts/mlp/wma/opus) then the rest of its IMAGE
              // whitelist (psd/icns/pcx/jp2/tga/eps/svg(z)/xbm/xpm); only
              // a payload NOTHING claims becomes a marked stub row
              MediaCodecs.audioHeader(bytes) match {
                case Some(am) =>
                  MediaFeatures(m.doc_id, am.mime, bytes.length.toLong,
                    0, 0, 0, Array(am.durationMs / 1000f), "")
                case None => MediaCodecs.imageHeader(bytes) match {
                  case Some(hm) =>
                    MediaFeatures(m.doc_id, hm.mime, bytes.length.toLong,
                      hm.width, hm.height, 0, Array.empty[Float], "")
                  case None =>
                    MediaFeatures(m.doc_id, kind, bytes.length.toLong,
                      0, 0, 0, Array.empty[Float], StubDecodeError)
                }
              }
          }
        }
      }
    }
  }

  final case class ImageDecode(doc_id: Long, media_type: String, width: Int,
                               height: Int, mode: String, pixel_sum: Long,
                               n_frames: Int, error: String)

  /** Real image decode as a typed batch kernel (same per-partition shape and
    * failure containment as [[decodeFeatures]]); non-image payloads yield
    * error rows. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        Containment.contained[ImageDecode](e =>
          ImageDecode(m.doc_id, "unknown", 0, 0, "", 0L, 0, Containment.describe(e))) {
          MediaCodecs.decodeImage(bytes) match {
            case Some(img) =>
              ImageDecode(m.doc_id, sniffMedia(bytes), img.width, img.height,
                img.mode, img.pixelSum, img.frames, "")
            case None if WebpCodec.isLossless(bytes) || WebpCodec.isSimpleLossy(bytes) ||
                WebpCodec.isExtendedStill(bytes) || WebpCodec.isAnimation(bytes) =>
              // decodeImage's cap pre-probe declined it — a format we DO
              // decode, rejected by size: name the cap, not the format
              ImageDecode(m.doc_id, sniffMedia(bytes), 0, 0, "", 0L, 0,
                "raster exceeds the 64 MiB / cumulative-pixel decode caps")
            case None =>
              ImageDecode(m.doc_id, sniffMedia(bytes), 0, 0, "", 0L, 0,
                "no real decoder for this payload")
          }
        }
      }
    }
  }

  final case class VideoDecode(doc_id: Long, media_type: String, width: Int,
                               height: Int, frames: Int, duration_ms: Long,
                               pixel_sum: Long, error: String)

  /** Real video SAMPLE decode as a typed batch kernel (MJPEG-in-AVI — every
    * frame reconstructed through [[JpegCodec]]; same per-partition shape and
    * failure containment as [[decodeImages]]); non-AVI payloads yield error
    * rows rather than header-only metadata. */
  def decodeVideos(media: Dataset[MediaRow]): Dataset[VideoDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
        Containment.contained[VideoDecode](e =>
          VideoDecode(m.doc_id, "unknown", 0, 0, 0, 0L, 0L, Containment.describe(e))) {
          if (MediaCodecs.isMjpegAvi(bytes)) {
            val v = MediaCodecs.parseAvi(bytes)
            VideoDecode(m.doc_id, "video/x-msvideo", v.width, v.height,
              v.frames, v.durationMs, v.pixelSum, "")
          } else VideoDecode(m.doc_id, sniffMedia(bytes), 0, 0, 0, 0L, 0L,
            "no sample decoder for this payload")
        }
      }
    }
  }
}
