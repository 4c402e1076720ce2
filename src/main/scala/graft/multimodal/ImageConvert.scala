package graft.multimodal

import java.io.ByteArrayOutputStream

import graft.multimodal.MediaCodecs.{ImageMeta, PixelBuf}
import graft.util.{ByteCursor, ByteSink, LsbWriter}

/** Production image CONVERT surface — the reference's image direction
  * (/root/reference/src/converters/image_converters.py:118-137: open with
  * Pillow, mode-convert, save as the target format). The decode side reuses
  * the verified metadata decoders with a pixel sink; the encode side is
  * pure JVM (java.util.zip for PNG's DEFLATE, hand-rolled GIF LZW).
  *
  * Coverage, honestly scoped:
  *  - decode (pixel-accurate): BMP (8/24/32 bpp, RLE8), PNM (P5/P6),
  *    PNG (color types 0/2/3/6, Adam7), GIF (incl. interlace), TIFF
  *    (none/LZW/PackBits, both endians), baseline JPEG, ICO
  *    (PNG-compressed entries), EPS (our hex-raster shape), WebP
  *    (lossless VP8L literal streams, [[WebpCodec]]);
  *  - encode: PNG (lossless for every mode incl. palettes), BMP
  *    (P/L → 8 bpp indexed, RGB → 24, RGBA → 32), PPM/PGM, TIFF
  *    (L/RGB uncompressed, little-endian), GIF (P/L, or RGB/RGBA when the
  *    image has ≤256 distinct colors — exact palettization, no dithering),
  *    JPEG (baseline, quality 1-100, [[JpegEncoder]] — the one LOSSY
  *    target), lossless WebP (VP8L), ICO (PNG-in-ICO), EPS — the
  *    reference's complete raster output whitelist;
  *  - NOT offered: lossy WebP (VP8) ENCODE — a DSP codec out of scope.
  *    Asking for it is a named error, never a fake file.
  *
  * Mode adaptation mirrors Pillow's `Image.convert` defaults: palette
  * expansion P→RGB, alpha dropped RGBA→RGB, ITU-R 601 luma for →L
  * (L = (299R + 587G + 114B) / 1000, truncating), gray replication L→RGB.
  */
object ImageConvert {

  /** LOSSLESS formats convertImage can write (the pixel-identity matrix).
    * JPEG is also writable — lossy, via [[JpegEncoder]] — but lives outside
    * this list because round-trips are quantization-bounded, not exact.
    * NOTE: queries index the first five positions (`(id/6)%5` wheels) —
    * only append, never reorder. */
  val encodeFormats: IndexedSeq[String] =
    IndexedSeq("png", "bmp", "ppm", "tiff", "gif", "ico", "eps", "webp")

  /** Decode any supported image to pixels + its native metadata. */
  def decodePixels(bytes: Array[Byte]): (ImageMeta, PixelBuf) = {
    val sink = new PixelBuf
    val meta =
      if (MediaCodecs.isBmp(bytes)) MediaCodecs.decodeBmp(bytes, sink)
      else if (MediaCodecs.isPpm(bytes)) MediaCodecs.decodePpm(bytes, sink)
      else if (MediaCodecs.isPng(bytes)) MediaCodecs.decodePng(bytes, sink)
      else if (MediaCodecs.isGif(bytes)) MediaCodecs.decodeGif(bytes, sink)
      else if (JpegCodec.isJpeg(bytes)) JpegCodec.decode(bytes, sink)
      else if (MediaCodecs.isTiff(bytes)) MediaCodecs.decodeTiff(bytes, sink)
      else if (MediaCodecs.isIco(bytes)) decodeIco(bytes, sink)
      else if (isEps(bytes)) decodeEps(bytes, sink)
      else if (MediaCodecs.isWebp(bytes)) WebpCodec.decode(bytes, sink)
      else throw new IllegalArgumentException(
        "unsupported image input (bmp/pnm/png/gif/jpeg/tiff/ico/eps/webp)")
    (meta, sink)
  }

  /** image bytes → target-format bytes, Pillow-convert-then-save shape. */
  def convertImage(bytes: Array[Byte], targetFmt: String): Array[Byte] =
    encode(decodePixels(bytes)._2, targetFmt)

  /** Sum of the sink's raster bytes — the pixelSum a re-decode of a
    * LOSSLESS re-encode must reproduce (for P sinks this is the index sum,
    * matching the decoders' "P"-mode pixelSum convention). */
  def rasterSum(buf: PixelBuf): Long = {
    var s = 0L
    var i = 0
    while (i < buf.data.length) { s += buf.data(i) & 0xff; i += 1 }
    s
  }

  // ---- mode conversion (Pillow Image.convert analog) ------------------------

  def convertMode(buf: PixelBuf, target: String): PixelBuf = {
    if (buf.mode == target) return buf
    require(Set("L", "RGB", "RGBA").contains(target),
      s"unsupported target mode $target (L, RGB, or RGBA)")
    if (buf.mode == "P") requirePalette(buf)
    val out = new PixelBuf
    out.init(target, buf.width, buf.height)
    val n = buf.width * buf.height
    var i = 0
    while (i < n) {
      // source pixel as RGB(A)
      var r = 0; var g = 0; var b = 0; var a = 255
      buf.mode match {
        case "L" => r = buf.data(i) & 0xff; g = r; b = r
        case "LA" =>
          r = buf.data(i * 2) & 0xff; g = r; b = r
          a = buf.data(i * 2 + 1) & 0xff
        case "P" =>
          val idx = (buf.data(i) & 0xff) * 3
          r = buf.palette(idx) & 0xff
          g = buf.palette(idx + 1) & 0xff
          b = buf.palette(idx + 2) & 0xff
        case "RGB" =>
          r = buf.data(i * 3) & 0xff; g = buf.data(i * 3 + 1) & 0xff
          b = buf.data(i * 3 + 2) & 0xff
        case "RGBA" =>
          r = buf.data(i * 4) & 0xff; g = buf.data(i * 4 + 1) & 0xff
          b = buf.data(i * 4 + 2) & 0xff; a = buf.data(i * 4 + 3) & 0xff
      }
      target match {
        case "L" => out.data(i) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
        case "RGB" =>
          out.data(i * 3) = r.toByte; out.data(i * 3 + 1) = g.toByte
          out.data(i * 3 + 2) = b.toByte
        case "RGBA" =>
          out.data(i * 4) = r.toByte; out.data(i * 4 + 1) = g.toByte
          out.data(i * 4 + 2) = b.toByte; out.data(i * 4 + 3) = a.toByte
        case o => throw new IllegalArgumentException(s"unsupported target mode $o")
      }
      i += 1
    }
    out
  }

  /** Every P-mode consumer (mode expansion, the 8-bpp/palette encoders)
    * indexes a full 256×3 table — a missing or short palette must be a
    * named error here, not an NPE/AIOOBE mid-encode. */
  private def requirePalette(buf: PixelBuf): Unit =
    require(buf.palette != null && buf.palette.length == 768,
      "P-mode pixels need a 256x3 RGB palette (PixelBuf.palette)")

  // ---- pixel geometry ops (image_converters.py:78-105 preprocessing) --------

  private def channels(buf: PixelBuf): Int = PixelBuf.channelsOf(buf.mode)

  private def blank(buf: PixelBuf, w: Int, h: Int): PixelBuf = {
    val out = new PixelBuf
    out.init(buf.mode, w, h)
    out.palette = buf.palette
    out
  }

  /** Pillow `image.crop((left, top, right, bottom))`
    * (image_converters.py:87-93). Bounds-checked by name: the reference's
    * Pillow zero-pads out-of-bounds boxes, but a deterministic engine
    * treats a box outside the raster as a caller bug, not data. */
  def crop(buf: PixelBuf, left: Int, top: Int, right: Int, bottom: Int): PixelBuf = {
    require(left >= 0 && top >= 0 && right <= buf.width && bottom <= buf.height &&
      left < right && top < bottom,
      s"crop box ($left,$top,$right,$bottom) outside ${buf.width}x${buf.height}")
    val ch = channels(buf)
    val out = blank(buf, right - left, bottom - top)
    var y = top
    while (y < bottom) {
      System.arraycopy(buf.data, (y * buf.width + left) * ch,
        out.data, ((y - top) * out.width) * ch, out.width * ch)
      y += 1
    }
    out
  }

  /** Arbitrary-angle rotate — the reference's `image.rotate(angle,
    * expand=True)` shape (image_converters.py:93-94; Pillow resamples
    * rotation with NEAREST by default). Right-angle multiples delegate to
    * the exact lossless path; other angles inverse-map each output pixel
    * center through the rotation and nearest-sample, black outside the
    * source (our pinned deterministic variant — Pillow's affine rounding
    * is library-defined). The general path is cross-checked against the
    * exact path at 90/180/270 in tests. */
  def rotateAny(buf: PixelBuf, degrees: Double): PixelBuf = {
    require(!degrees.isNaN && !degrees.isInfinite, s"rotate angle $degrees")
    val norm = ((degrees % 360) + 360) % 360
    // snap float jitter onto the exact lossless path (89.999999999 IS a
    // right angle for any raster size the 64 MiB cap admits)
    val nearest = math.rint(norm / 90.0) * 90.0
    if (math.abs(norm - nearest) < 1e-9)
      rotate(buf, (nearest.toInt % 360 + 360) % 360)
    else rotateGeneral(buf, norm)
  }

  private[graft] def rotateGeneral(buf: PixelBuf, degrees: Double): PixelBuf = {
    val rad = math.toRadians(degrees)
    val cos = math.cos(rad)
    val sin = math.sin(rad)
    val w = buf.width
    val h = buf.height
    // expand: the rotated bounding box (near-right angles were already
    // snapped to the exact path by rotateAny; the epsilon only absorbs
    // float noise in the trig products themselves)
    val w2 = math.max(1, math.ceil(w * math.abs(cos) + h * math.abs(sin) - 1e-9).toInt)
    val h2 = math.max(1, math.ceil(w * math.abs(sin) + h * math.abs(cos) - 1e-9).toInt)
    val ch = channels(buf)
    val out = blank(buf, w2, h2)
    val cx = w / 2.0
    val cy = h / 2.0
    val cx2 = w2 / 2.0
    val cy2 = h2 / 2.0
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        // screen y grows DOWN, so a visually-CCW rotation is a math-CW
        // one; the inverse map back into the source is therefore R(+θ)
        val dx = x + 0.5 - cx2
        val dy = y + 0.5 - cy2
        val sx = cos * dx - sin * dy + cx
        val sy = sin * dx + cos * dy + cy
        val ix = math.floor(sx).toInt
        val iy = math.floor(sy).toInt
        if (ix >= 0 && ix < w && iy >= 0 && iy < h) {
          var c = 0
          while (c < ch) {
            out.data((y * w2 + x) * ch + c) = buf.data((iy * w + ix) * ch + c)
            c += 1
          }
        } // else: stays 0 (black / transparent), Pillow's default fill
        x += 1
      }
      y += 1
    }
    out
  }

  def rotate(buf: PixelBuf, degrees: Int): PixelBuf = {
    val deg = ((degrees % 360) + 360) % 360
    require(deg % 90 == 0, s"rotate supports right angles only, got $degrees")
    if (deg == 0) return buf
    val ch = channels(buf)
    val (w, h) = (buf.width, buf.height)
    val out = if (deg == 180) blank(buf, w, h) else blank(buf, h, w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // CCW: 90 sends (x,y) -> (y, w-1-x); 270 sends (x,y) -> (h-1-y, x)
        val (nx, ny) = deg match {
          case 90  => (y, w - 1 - x)
          case 180 => (w - 1 - x, h - 1 - y)
          case _   => (h - 1 - y, x)
        }
        var c = 0
        while (c < ch) {
          out.data((ny * out.width + nx) * ch + c) = buf.data((y * w + x) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** ImageOps.mirror / ImageOps.flip (image_converters.py:98-102). */
  def flip(buf: PixelBuf, direction: String): PixelBuf = {
    val ch = channels(buf)
    val out = blank(buf, buf.width, buf.height)
    direction match {
      case "horizontal" =>
        var y = 0
        while (y < buf.height) {
          var x = 0
          while (x < buf.width) {
            var c = 0
            while (c < ch) {
              out.data((y * buf.width + (buf.width - 1 - x)) * ch + c) =
                buf.data((y * buf.width + x) * ch + c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
      case "vertical" =>
        var y = 0
        while (y < buf.height) {
          System.arraycopy(buf.data, y * buf.width * ch,
            out.data, (buf.height - 1 - y) * buf.width * ch, buf.width * ch)
          y += 1
        }
      case o => throw new IllegalArgumentException(
        s"flip direction must be horizontal or vertical, got $o")
    }
    out
  }

  /** Nearest-neighbor resize with center mapping: destination pixel i reads
    * source index (2i+1)*src/(2*dst) — integer arithmetic, so a SQL oracle
    * reproduces the sampling grid exactly. (The reference resizes with
    * Pillow LANCZOS, image_converters.py:84 — a windowed-sinc whose exact
    * bytes are library-defined; nearest is the deterministic resampler, and
    * the kernel swap point is this one function.) */
  /** Lanczos-3 resize — the reference's default resampler
    * (`Image.Resampling.LANCZOS`, image_converters.py:84): separable
    * windowed-sinc with the standard downscale filter stretch (support
    * 3·max(1, src/dst)) and per-tap weight normalization. Our pinned
    * deterministic variant accumulates in float64 through both passes and
    * rounds+clamps ONCE at the end (Pillow quantizes to 8 bits between
    * passes with fixed-point weights — a library-defined byte layout);
    * the properties that matter are pinned in tests: identity at the same
    * size, exactness on constant content, mirror symmetry. P-mode (and
    * Pillow's mode "1") cannot be interpolated — palette indices are not
    * magnitudes — so P falls back to nearest, exactly Pillow's own
    * `resize` rule. */
  def resizeLanczos(buf: PixelBuf, w: Int, h: Int): PixelBuf = {
    require(w > 0 && h > 0, s"bad resize target ${w}x$h")
    if (buf.mode == "P") return resizeNearest(buf, w, h)
    val ch = channels(buf)
    // cap-gate the TARGET and the horizontal-pass intermediate up front:
    // both endpoints can individually pass the 64 MiB cap while
    // w * srcHeight * ch overflows Int (or allocates gigabytes of float64)
    MediaCodecs.PixelBuf.checkCap(buf.mode, w, h)
    MediaCodecs.PixelBuf.checkCap(buf.mode, w, buf.height)
    def lanczos(t: Double): Double =
      if (math.abs(t) >= 3.0) 0.0
      else if (math.abs(t) < 1e-12) 1.0
      else {
        val pt = math.Pi * t
        3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt)
      }
    /** Per destination index: (first source tap, normalized weights). */
    def taps(src: Int, dst: Int): Array[(Int, Array[Double])] = {
      val scale = src.toDouble / dst
      val fscale = math.max(1.0, scale)
      val support = 3.0 * fscale
      Array.tabulate(dst) { i =>
        val center = (i + 0.5) * scale
        val lo = math.max(0, math.floor(center - support).toInt)
        val hi = math.min(src, math.ceil(center + support).toInt)
        val ws = Array.tabulate(hi - lo)(j => lanczos((lo + j + 0.5 - center) / fscale))
        val sum = ws.sum
        (lo, ws.map(_ / sum))
      }
    }
    if (w == buf.width && h == buf.height) return buf // exact identity
    // horizontal pass (float64 intermediate), then vertical — an unchanged
    // axis skips its convolution entirely (identity by construction)
    val mid: Array[Double] =
      if (w == buf.width) {
        val m = new Array[Double](w * buf.height * ch)
        var i = 0
        while (i < m.length) { m(i) = buf.data(i) & 0xff; i += 1 }
        m
      } else {
        val hTaps = taps(buf.width, w)
        val m = new Array[Double](w * buf.height * ch)
        var y = 0
        while (y < buf.height) {
          var x = 0
          while (x < w) {
            val (lo, ws) = hTaps(x)
            var c = 0
            while (c < ch) {
              var acc = 0.0
              var j = 0
              while (j < ws.length) {
                acc += ws(j) * (buf.data((y * buf.width + lo + j) * ch + c) & 0xff)
                j += 1
              }
              m((y * w + x) * ch + c) = acc
              c += 1
            }
            x += 1
          }
          y += 1
        }
        m
      }
    val out = blank(buf, w, h)
    if (h == buf.height) {
      var i = 0
      while (i < out.data.length) {
        out.data(i) = math.max(0, math.min(255, math.round(mid(i)))).toByte
        i += 1
      }
    } else {
      val vTaps = taps(buf.height, h)
      var y = 0
      while (y < h) {
        val (lo, ws) = vTaps(y)
        var x = 0
        while (x < w) {
          var c = 0
          while (c < ch) {
            var acc = 0.0
            var j = 0
            while (j < ws.length) {
              acc += ws(j) * mid(((lo + j) * w + x) * ch + c)
              j += 1
            }
            out.data((y * w + x) * ch + c) =
              math.max(0, math.min(255, math.round(acc))).toByte
            c += 1
          }
          x += 1
        }
        y += 1
      }
    }
    out
  }

  def resizeNearest(buf: PixelBuf, w: Int, h: Int): PixelBuf = {
    require(w > 0 && h > 0, s"bad resize target ${w}x$h")
    val ch = channels(buf)
    val out = blank(buf, w, h)
    var y = 0
    while (y < h) {
      val sy = ((2L * y + 1) * buf.height / (2L * h)).toInt
      var x = 0
      while (x < w) {
        val sx = ((2L * x + 1) * buf.width / (2L * w)).toInt
        var c = 0
        while (c < ch) {
          out.data((y * w + x) * ch + c) = buf.data((sy * buf.width + sx) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** ImageOps.invert semantics via the reference's apply_filter 'invert' arm
    * (image_converters.py:251-259): every channel becomes 255-v, except an
    * RGBA alpha channel, which is preserved (the reference splits, inverts
    * RGB, re-merges with the original alpha). Palette mode is a named error,
    * exactly as ImageOps.invert raises on P images — and so is LA: the
    * reference special-cases only RGBA and hands everything else to
    * ImageOps.invert, which raises on alpha-bearing LA, so flipping an LA
    * alpha to transparency here would fabricate behavior the reference
    * never produces. */
  def invert(buf: PixelBuf): PixelBuf = {
    require(buf.mode != "P", "invert does not support palette mode (convert first)")
    require(buf.mode != "LA", "invert does not support mode LA (ImageOps.invert raises)")
    val ch = channels(buf)
    val out = blank(buf, buf.width, buf.height)
    var i = 0
    while (i < buf.data.length) {
      val keep = buf.mode == "RGBA" && i % ch == 3
      out.data(i) = if (keep) buf.data(i) else (255 - (buf.data(i) & 0xff)).toByte
      i += 1
    }
    out
  }

  /** The eight built-in Pillow convolution kernels the reference's filter
    * registry names (image_converters.py:234-243) — constants from PIL
    * ImageFilter (public): (size, scale, offset, kernel). */
  private val kernels: Map[String, (Int, Int, Int, Array[Int])] = Map(
    "blur" -> ((5, 16, 0, Array(
      1, 1, 1, 1, 1,
      1, 0, 0, 0, 1,
      1, 0, 0, 0, 1,
      1, 0, 0, 0, 1,
      1, 1, 1, 1, 1))),
    "contour" -> ((3, 1, 255, Array(-1, -1, -1, -1, 8, -1, -1, -1, -1))),
    "detail" -> ((3, 6, 0, Array(0, -1, 0, -1, 10, -1, 0, -1, 0))),
    "edge_enhance" -> ((3, 2, 0, Array(-1, -1, -1, -1, 10, -1, -1, -1, -1))),
    "emboss" -> ((3, 1, 128, Array(-1, 0, 0, 0, 1, 0, 0, 0, 0))),
    "find_edges" -> ((3, 1, 0, Array(-1, -1, -1, -1, 8, -1, -1, -1, -1))),
    "sharpen" -> ((3, 16, 0, Array(-2, -2, -2, -2, 32, -2, -2, -2, -2))),
    "smooth" -> ((3, 13, 0, Array(1, 1, 1, 1, 5, 1, 1, 1, 1))))

  /** Real convolution for the registry filters: per channel,
    * out = clamp((Σ kᵢ·pᵢ) / scale + offset) with truncating integer
    * division (our pinned rounding — Pillow's float path may differ by ±1
    * per pixel, and no media lib ships in this container to diff against);
    * border pixels (half the kernel size) are copied unfiltered, which IS
    * Pillow's edge behavior. P mode is a named error (Pillow filters refuse
    * palette images). */
  def convolve(buf: PixelBuf, filterName: String): PixelBuf = {
    val (size, scale, offset, k) = kernels.getOrElse(filterName,
      throw new IllegalArgumentException(s"Unknown filter: $filterName"))
    require(buf.mode != "P", s"$filterName does not support palette mode (convert first)")
    val ch = channels(buf)
    val out = blank(buf, buf.width, buf.height)
    System.arraycopy(buf.data, 0, out.data, 0, buf.data.length) // border copy
    val r = size / 2
    var y = r
    while (y < buf.height - r) {
      var x = r
      while (x < buf.width - r) {
        var c = 0
        while (c < ch) {
          val alphaBand = c == ch - 1 && (buf.mode == "RGBA" || buf.mode == "LA")
          if (alphaBand) {
            // alpha passes through for BOTH alpha-bearing modes (Pillow
            // filters the bands it can) — blurring a hard mask into
            // intermediate alpha would be silent data damage
          } else {
            var acc = 0
            var ky = 0
            while (ky < size) {
              var kx = 0
              while (kx < size) {
                acc += k(ky * size + kx) *
                  (buf.data(((y + ky - r) * buf.width + (x + kx - r)) * ch + c) & 0xff)
                kx += 1
              }
              ky += 1
            }
            val v = acc / scale + offset
            out.data((y * buf.width + x) * ch + c) =
              math.max(0, math.min(255, v)).toByte
          }
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** The reference's preprocessing chain in kwarg order (resize → crop →
    * rotate → flip → grayscale, image_converters.py:80-105), on REAL
    * pixels, then encode. */
  final case class ImageOpts(resize: Option[(Int, Int)] = None,
                             cropBox: Option[(Int, Int, Int, Int)] = None,
                             rotateDeg: Option[Double] = None,
                             flipDir: Option[String] = None,
                             grayscale: Boolean = false,
                             quality: Int = 95,
                             pngCompressLevel: Int = 6)

  def convertImage(bytes: Array[Byte], targetFmt: String, opts: ImageOpts): Array[Byte] = {
    var buf = decodePixels(bytes)._2
    // the reference resizes with LANCZOS (image_converters.py:82-84);
    // resizeLanczos itself falls back to nearest for P, Pillow's own rule
    for ((w, h) <- opts.resize) buf = resizeLanczos(buf, w, h)
    for ((l, t, r, b) <- opts.cropBox) buf = crop(buf, l, t, r, b)
    for (d <- opts.rotateDeg) buf = rotateAny(buf, d) // expand=True, :93-94
    for (d <- opts.flipDir) buf = flip(buf, d)
    if (opts.grayscale && buf.mode != "L") buf = convertMode(buf, "L")
    // the reference's `if kwargs.get('compress_level'):` is a TRUTHINESS
    // check (image_converters.py:119-121): level 0 is falsy there and
    // silently falls back to Pillow's default 6 — mirror that at this
    // reference-semantics surface (encodePng itself honors a literal 0)
    val pngLevel = if (opts.pngCompressLevel == 0) 6 else opts.pngCompressLevel
    encode(buf, targetFmt, opts.quality, pngLevel)
  }

  // ---- images → PDF (create_pdf, image_converters.py:181-222) ---------------

  /** One page per image, RGBA/P forced to RGB exactly like the reference
    * (`img.convert('RGB')`, `:192-194`), L kept as DeviceGray (Pillow's PDF
    * driver does the same). Pages are real PDF image XObjects —
    * FlateDecode'd raw samples, MediaBox sized to the pixel dims — with a
    * classic xref table, so any conforming reader opens the file. An empty
    * list is a named error (the reference silently writes nothing and then
    * fails on stat — an error record either way). */
  def imagesToPdf(images: Seq[Array[Byte]]): Array[Byte] = {
    require(images.nonEmpty, "images_to_pdf needs at least one image")
    val bufs = images.map { bytes =>
      val b = decodePixels(bytes)._2
      if (b.mode == "RGBA" || b.mode == "P") convertMode(b, "RGB")
      else if (b.mode == "LA") convertMode(b, "L") // DeviceGray, alpha dropped
      else b
    }
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def beginObj(): Unit = { offsets += out.size() }
    w("%PDF-1.4\n")
    // object numbering: 1 catalog, 2 pages, then per page i (0-based):
    // 3+3i page, 4+3i contents, 5+3i image
    beginObj(); w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = bufs.indices.map(i => s"${3 + 3 * i} 0 R").mkString(" ")
    beginObj(); w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count ${bufs.length} >>\nendobj\n")
    for ((b, i) <- bufs.zipWithIndex) {
      val (pageN, contN, imgN) = (3 + 3 * i, 4 + 3 * i, 5 + 3 * i)
      beginObj()
      w(s"$pageN 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 ${b.width} ${b.height}] " +
        s"/Resources << /XObject << /Im$i $imgN 0 R >> >> " +
        s"/Contents $contN 0 R >>\nendobj\n")
      val content = s"q ${b.width} 0 0 ${b.height} 0 0 cm /Im$i Do Q"
      beginObj()
      w(s"$contN 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
      val data = graft.util.Inflate.deflate(b.data)
      val cs = if (b.mode == "L") "/DeviceGray" else "/DeviceRGB"
      beginObj()
      w(s"$imgN 0 obj\n<< /Type /XObject /Subtype /Image /Width ${b.width} " +
        s"/Height ${b.height} /ColorSpace $cs /BitsPerComponent 8 " +
        s"/Filter /FlateDecode /Length ${data.length} >>\nstream\n")
      out.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** Read back the image pages of a PDF whose streams carry DIRECT
    * `/Length` integers (as [[imagesToPdf]] writes — an indirect-reference
    * length is a named error): per page (width, height, mode, sample sum) —
    * the verification side of create_pdf, since the text-extraction parser
    * ignores image objects. The scan walks stream to stream and SKIPS every
    * body by its declared length, so compressed bytes that happen to spell
    * a dict marker can never be mistaken for one. */
  def pdfImages(bytes: Array[Byte]): Seq[ImageMeta] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val found = scala.collection.mutable.ArrayBuffer[ImageMeta]()
    var from = 0
    var dictEnd = s.indexOf("stream", from)
    while (dictEnd >= 0) {
      if (dictEnd >= 3 && s.startsWith("endstream", dictEnd - 3)) {
        from = dictEnd + 6 // the match was the tail of an endstream keyword
      } else {
        // dict = text from the owning "N 0 obj" to the stream keyword;
        // `from` is always past the previous stream's body, so this region
        // is object structure, never compressed bytes
        val objAt = s.lastIndexOf("obj", dictEnd)
        require(objAt >= from, "stream keyword outside any object")
        val dict = s.substring(objAt, dictEnd)
        def intField(name: String): Int = {
          val i = dict.indexOf(name)
          require(i >= 0, s"stream dict missing $name")
          val tail = dict.substring(i + name.length).trim
          val digits = tail.takeWhile(_.isDigit)
          require(digits.nonEmpty && !tail.drop(digits.length).trim.startsWith("0 R"),
            s"$name is not a direct integer (indirect lengths unsupported)")
          digits.toInt
        }
        val len = intField("/Length")
        var dataStart = dictEnd + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        // Long: a hostile /Length near Int.MaxValue would wrap dataStart+len
        // negative, pass this require, and send `from` backwards — an
        // infinite re-scan of the same stream keyword
        require(dataStart.toLong + len <= bytes.length, "stream body truncated")
        if (dict.contains("/Subtype /Image")) {
          val width = intField("/Width")
          val height = intField("/Height")
          val gray = dict.contains("/DeviceGray")
          require(dict.contains("/FlateDecode"), "unsupported image filter")
          val channels = if (gray) 1 else 3
          // same 64 MiB bomb cap as every other decode path — also keeps
          // width*height*channels out of Int-overflow territory (65536²
          // gray wraps to 0 and would be accepted as an empty raster)
          MediaCodecs.PixelBuf.checkCap(if (gray) "L" else "RGB", width, height)
          val raw = new Array[Byte](width * height * channels)
          graft.util.Inflate.fill(bytes, Iterator(dataStart -> len), raw, "image samples")
          var sum = 0L
          var i = 0
          while (i < raw.length) { sum += raw(i) & 0xff; i += 1 }
          found += ImageMeta("pdf-image", width, height, if (gray) "L" else "RGB", sum)
        }
        from = dataStart + len
      }
      dictEnd = s.indexOf("stream", from)
    }
    found.toSeq
  }

  // ---- encoders --------------------------------------------------------------

  /** pixels → target-format bytes, auto-adapting the mode where the format
    * requires it (RGBA→RGB for ppm/tiff/gif like Pillow's save paths). */
  def encode(buf: PixelBuf, fmt: String, quality: Int = 95,
             pngCompressLevel: Int = 6): Array[Byte] =
    fmt.toLowerCase.stripPrefix(".") match {
      case "png" => encodePng(buf, pngCompressLevel)
      // formats without an alpha-plus-gray layout drop LA's alpha channel
      // to L (the gray value IS the luma — exact, like RGBA→RGB's drop)
      case "bmp" => encodeBmp(if (buf.mode == "LA") convertMode(buf, "L") else buf)
      case "ppm" | "pgm" | "pnm" =>
        if (buf.mode == "L") encodePnm(buf)
        else if (buf.mode == "LA") encodePnm(convertMode(buf, "L"))
        else encodePnm(if (buf.mode == "RGB") buf else convertMode(buf, "RGB"))
      case "tiff" | "tif" =>
        if (buf.mode == "L" || buf.mode == "RGB") encodeTiff(buf)
        else if (buf.mode == "LA") encodeTiff(convertMode(buf, "L"))
        else encodeTiff(convertMode(buf, "RGB"))
      case "gif" => encodeGif(if (buf.mode == "LA") convertMode(buf, "L") else buf)
      case "jpeg" | "jpg" =>
        // the reference's save path forces RGB for RGBA/P before a JPEG
        // save (image_converters.py:110-112); LA keeps its gray plane
        val adapted = buf.mode match {
          case "RGBA" | "P" => convertMode(buf, "RGB")
          case "LA" => convertMode(buf, "L")
          case _ => buf
        }
        JpegEncoder.encode(adapted, quality)
      case "ico" => encodeIco(if (buf.mode == "LA") convertMode(buf, "L") else buf)
      case "eps" => encodeEps(buf)
      case "webp" =>
        // webp has no gray/palette layout: everything except RGBA forces
        // RGB (Pillow's webp save shape); VP8L keeps it lossless
        WebpCodec.encode(
          if (buf.mode == "RGB" || buf.mode == "RGBA") buf
          else convertMode(buf, "RGB"))
      case o => throw new IllegalArgumentException(
        s"unsupported image output format .$o (whitelist: ${encodeFormats.mkString(", ")})")
    }

  /** PNG: color type from mode, filter 0 everywhere, one zlib stream.
    * `compressLevel` 0-9 is the reference's png `compress_level` save
    * kwarg (image_converters.py:119-121) — a pure speed/size dial on the
    * zlib stage, bit-identical pixels at every level. */
  def encodePng(buf: PixelBuf, compressLevel: Int = 6): Array[Byte] = {
    require(compressLevel >= 0 && compressLevel <= 9,
      s"png compress_level $compressLevel out of 0-9")
    val colorType = buf.mode match {
      case "L" => 0; case "RGB" => 2; case "P" => 3; case "LA" => 4
      case "RGBA" => 6
    }
    val channels = PixelBuf.channelsOf(buf.mode)
    val rowBytes = buf.width * channels
    val raw = new Array[Byte]((1 + rowBytes) * buf.height)
    var y = 0
    while (y < buf.height) {
      // raw(y * (1 + rowBytes)) = 0: filter None
      System.arraycopy(buf.data, y * rowBytes, raw, y * (1 + rowBytes) + 1, rowBytes)
      y += 1
    }
    val out = new ByteSink(raw.length / 2 + 128)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(tpe: String, body: Array[Byte]): Unit = {
      out.u32be(body.length)
      val tb = tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(body)
      out.write(tb, 0, 4)
      out.write(body, 0, body.length)
      out.u32be(crc.getValue)
    }
    val ihdr = new ByteSink(13)
    ihdr.u32be(buf.width); ihdr.u32be(buf.height)
    ihdr.write(Array[Byte](8, colorType.toByte, 0, 0, 0))
    chunk("IHDR", ihdr.toByteArray)
    if (colorType == 3) {
      requirePalette(buf)
      chunk("PLTE", buf.palette.clone())
    }
    chunk("IDAT", graft.util.Inflate.deflate(raw, compressLevel))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** BMP (BITMAPINFOHEADER, BI_RGB, bottom-up): P/L → 8 bpp with a color
    * table, RGB → 24, RGBA → 32. */
  def encodeBmp(buf: PixelBuf): Array[Byte] = {
    if (buf.mode == "P") requirePalette(buf)
    val bpp = buf.mode match {
      case "P" | "L" => 8
      case "RGB" => 24
      case "RGBA" => 32
      case o => throw new IllegalArgumentException(
        s"BMP cannot encode mode $o (convert first)") // named, not MatchError
    }
    val channels = PixelBuf.channelsOf(buf.mode)
    val paletteSize = if (bpp == 8) 256 * 4 else 0
    val stride = (buf.width * (bpp / 8) + 3) & ~3
    // RGBA needs a V4 header: 32-bpp BI_RGB is BGRX (padding, not alpha) to
    // the ecosystem — real alpha rides BI_BITFIELDS masks, which only the
    // 108-byte header carries with an alpha slot
    val v4 = bpp == 32
    val hdrSize = if (v4) 108 else 40
    val dataOffset = 14 + hdrSize + paletteSize
    val bb = java.nio.ByteBuffer.allocate(dataOffset + stride * buf.height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(bb.capacity).putInt(0).putInt(dataOffset)
    bb.putInt(hdrSize).putInt(buf.width).putInt(buf.height) // positive = bottom-up
    bb.putShort(1).putShort(bpp.toShort).putInt(if (v4) 3 else 0) // BI_BITFIELDS/BI_RGB
    bb.putInt(stride * buf.height).putInt(2835).putInt(2835)
    bb.putInt(if (bpp == 8) 256 else 0).putInt(0)
    if (v4) { // standard BGRA masks, sRGB colorspace, zeroed endpoints/gammas
      bb.putInt(0x00ff0000).putInt(0x0000ff00).putInt(0x000000ff).putInt(0xff000000)
      bb.putInt(0x73524742) // 'sRGB'
      for (_ <- 0 until 12) bb.putInt(0) // CIEXYZ endpoints + gammas
    }
    if (bpp == 8) {
      var k = 0
      while (k < 256) { // BGRA entries; grayscale identity for "L"
        if (buf.mode == "P") {
          bb.put(buf.palette(k * 3 + 2)).put(buf.palette(k * 3 + 1))
            .put(buf.palette(k * 3)).put(0.toByte)
        } else bb.put(k.toByte).put(k.toByte).put(k.toByte).put(0.toByte)
        k += 1
      }
    }
    var y = buf.height - 1
    while (y >= 0) { // bottom-up rows, RGB(A) -> BGR(A)
      var x = 0
      while (x < buf.width) {
        val at = (y * buf.width + x) * channels
        channels match {
          case 1 => bb.put(buf.data(at))
          case 3 => bb.put(buf.data(at + 2)).put(buf.data(at + 1)).put(buf.data(at))
          case 4 => bb.put(buf.data(at + 2)).put(buf.data(at + 1))
            .put(buf.data(at)).put(buf.data(at + 3))
        }
        x += 1
      }
      var pad = stride - buf.width * (bpp / 8)
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      y -= 1
    }
    bb.array()
  }

  /** Binary PNM: P5 for L, P6 for RGB. */
  def encodePnm(buf: PixelBuf): Array[Byte] = {
    require(buf.mode == "L" || buf.mode == "RGB",
      s"PNM encodes L (P5) or RGB (P6), not ${buf.mode}")
    val header = s"P${if (buf.mode == "L") 5 else 6}\n${buf.width} ${buf.height}\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    header ++ buf.data
  }

  /** Baseline TIFF, little-endian, uncompressed, one strip. */
  def encodeTiff(buf: PixelBuf): Array[Byte] = {
    require(buf.mode == "L" || buf.mode == "RGB",
      s"TIFF encoder writes L or RGB, not ${buf.mode}")
    val spp = PixelBuf.channelsOf(buf.mode)
    val nEntries = 9
    val ifdAt = 8
    val bpsExtraAt = ifdAt + 2 + nEntries * 12 + 4 // RGB BitsPerSample triple
    val dataAt = if (spp == 3) bpsExtraAt + 6 else bpsExtraAt
    val bb = java.nio.ByteBuffer.allocate(dataAt + buf.data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAt)
    bb.putShort(nEntries.toShort)
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      bb.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      if (tpe == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value)
    }
    entry(256, 4, 1, buf.width)          // ImageWidth
    entry(257, 4, 1, buf.height)         // ImageLength
    if (spp == 1) entry(258, 3, 1, 8)    // BitsPerSample
    else entry(258, 3, 3, bpsExtraAt)
    entry(259, 3, 1, 1)                  // Compression: none
    entry(262, 3, 1, if (spp == 3) 2 else 1) // Photometric
    entry(273, 4, 1, dataAt)             // StripOffsets
    entry(277, 3, 1, spp)                // SamplesPerPixel
    entry(278, 4, 1, buf.height)         // RowsPerStrip
    entry(279, 4, 1, buf.data.length)    // StripByteCounts
    bb.putInt(0) // next IFD
    if (spp == 3) { bb.putShort(8).putShort(8).putShort(8) }
    bb.put(buf.data)
    bb.array()
  }

  /** GIF89a, one frame, global color table. P/L encode directly; RGB(A)
    * palettizes exactly when the image has ≤256 distinct colors and is a
    * named error otherwise (no quantization loop — deterministic output). */
  /** ICO: one PNG-compressed directory entry at the raster's native size —
    * the layout Pillow's IcoImagePlugin has saved since PNG-in-ICO became
    * its default (the reference's `.ico` output arm,
    * /root/reference/src/converters/image_converters.py:50-52). The ICONDIR
    * codes each axis in a single byte (0 means 256), capping dims at 256. */
  def encodeIco(buf: PixelBuf): Array[Byte] = {
    require(buf.width >= 1 && buf.width <= 256 && buf.height >= 1 && buf.height <= 256,
      s"ICO dims ${buf.width}x${buf.height} out of the format's 1-256 range")
    val png = encodePng(buf)
    val out = new ByteSink(22 + png.length)
    out.u16le(0); out.u16le(1); out.u16le(1) // reserved / type=icon / count
    out.write(buf.width & 0xff)              // 256 is coded as 0
    out.write(buf.height & 0xff)
    out.write(0); out.write(0)               // no palette / reserved
    out.u16le(1)                             // color planes
    out.u16le(PixelBuf.channelsOf(buf.mode) * 8) // bit-depth hint
    out.u32le(png.length)
    out.u32le(22)                            // data offset: ICONDIR(6)+entry(16)
    out.write(png, 0, png.length)
    out.toByteArray
  }

  /** Decode an ICO's LARGEST directory entry (the frame Pillow opens by
    * default — same selection as [[MediaCodecs.parseIco]]'s reported
    * dims). PNG-compressed entries keep their native PNG mode (the
    * lossless round-trip shape the encode surface writes); CLASSIC DIB
    * entries follow Pillow's IcoImagePlugin — the XOR bitmap decodes
    * through the shared BMP machinery (height is stored DOUBLED to cover
    * the AND mask) and composites to RGBA: <32 bpp entries take their
    * alpha from the 1-bpp AND mask (bit set = transparent; the XOR RGB
    * under masked pixels is kept, as Pillow keeps it), 32 bpp entries use
    * their embedded alpha channel and ignore the mask. Unsupported DIB
    * shapes (compression, odd heights) are named errors, never guesses. */
  private def decodeIco(bytes: Array[Byte], sink: PixelBuf): ImageMeta = {
    // parseIco validates the directory + entry bounds and hands back the
    // largest entry's location — the SAME entry its reported dims describe
    val dir = MediaCodecs.parseIco(bytes)
    val slice = java.util.Arrays.copyOfRange(
      bytes, dir.bestOffset, dir.bestOffset + dir.bestSize)
    if (MediaCodecs.isPng(slice)) {
      val m = MediaCodecs.decodePng(slice, sink)
      return ImageMeta("ico", m.width, m.height, m.mode, m.pixelSum)
    }
    decodeIcoDib(slice, sink)
  }

  /** [[decodeIco]]'s classic-DIB arm: `dib` is the raw entry payload
    * (BITMAPINFOHEADER + palette + XOR rows + AND rows, no BMP file
    * header). */
  private def decodeIcoDib(dib: Array[Byte], sink: PixelBuf): ImageMeta = {
    val d = ByteCursor(dib)
    require(dib.length >= 40 && d.i32le(0) == 40,
      "ICO entry is neither PNG nor a BITMAPINFOHEADER DIB")
    val w = d.i32le(4)
    val h2 = d.i32le(8)
    val bpp = d.u16le(14)
    val compression = d.i32le(16)
    require(compression == 0, s"ICO DIB compression $compression unsupported (BI_RGB only)")
    require(h2 > 0 && (h2 & 1) == 0,
      s"ICO DIB height $h2 is not the doubled XOR+AND convention")
    val h = h2 / 2
    require(w >= 1 && h >= 1 && bpp >= 1, s"ICO DIB geometry ${w}x$h @$bpp invalid")
    MediaCodecs.PixelBuf.checkCap("RGBA", w, h)
    val clrUsed = d.i32le(32)
    val paletteBytes =
      if (bpp <= 8) (if (clrUsed > 0) clrUsed else 1 << bpp) * 4 else 0
    val xorStride = ((w.toLong * bpp + 31) / 32 * 4).toInt
    val xorSize = xorStride * h
    val andStride = ((w + 31) / 32) * 4
    val maskAt = 40L + paletteBytes + xorSize
    require(maskAt + andStride.toLong * h <= dib.length,
      "ICO DIB XOR+AND data overruns the entry")
    // synthesize a BMP file around the XOR half so the shared (tested)
    // BMP decoder does the pixel work: height un-doubled, offsets rebuilt
    val bmpLength = 14 + 40 + paletteBytes + xorSize
    val bmp = new ByteSink(bmpLength)
    bmp.write('B'); bmp.write('M')
    bmp.u32le(bmpLength); bmp.u32le(0)
    bmp.u32le(14 + 40 + paletteBytes)
    bmp.write(dib, 0, 8)
    bmp.u32le(h)       // un-double the height
    bmp.write(dib, 12, 8)
    bmp.u32le(xorSize) // biSizeImage consistent with one bitmap
    bmp.write(dib, 24, 16 + paletteBytes + xorSize)
    val buf = new PixelBuf
    MediaCodecs.decodeBmp(bmp.toByteArray, buf)
    // composite to RGBA (Pillow's ICO open mode)
    if (sink != null) sink.init("RGBA", w, h)
    val out = if (sink != null) sink.data else new Array[Byte](w * h * 4)
    val chn = PixelBuf.channelsOf(buf.mode)
    var sum = 0L
    var y = 0
    while (y < h) {
      val maskRow = (maskAt + (h - 1 - y).toLong * andStride).toInt
      var x = 0
      while (x < w) {
        val px = y * w + x
        var r = 0; var g = 0; var b = 0; var a = 255
        buf.mode match {
          case "P" =>
            val idx = buf.data(px) & 0xff
            r = buf.palette(idx * 3) & 0xff
            g = buf.palette(idx * 3 + 1) & 0xff
            b = buf.palette(idx * 3 + 2) & 0xff
          case "RGB" =>
            r = buf.data(px * chn) & 0xff
            g = buf.data(px * chn + 1) & 0xff
            b = buf.data(px * chn + 2) & 0xff
          case "RGBA" =>
            r = buf.data(px * 4) & 0xff
            g = buf.data(px * 4 + 1) & 0xff
            b = buf.data(px * 4 + 2) & 0xff
            a = buf.data(px * 4 + 3) & 0xff
          case m => throw new IllegalArgumentException(
            s"ICO DIB decoded to unexpected mode $m")
        }
        if (bpp < 32) {
          // AND mask: MSB-first bits, bottom-up rows; set bit = transparent
          val bit = (dib(maskRow + (x >> 3)) >> (7 - (x & 7))) & 1
          a = if (bit == 1) 0 else 255
        }
        out(px * 4) = r.toByte; out(px * 4 + 1) = g.toByte
        out(px * 4 + 2) = b.toByte; out(px * 4 + 3) = a.toByte
        sum += r + g + b + a
        x += 1
      }
      y += 1
    }
    ImageMeta("ico", w, h, "RGBA", sum)
  }

  // ---- EPS (EpsImagePlugin save shape: hex raster + image operator) ----------

  private[multimodal] def isEps(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == '%' && b(1) == '!' && b(2) == 'P' && b(3) == 'S'

  private val EpsBBoxRe = "%%BoundingBox:\\s+0 0 (\\d+) (\\d+)".r
  private val EpsMatrixRe = "(?m)^(\\d+) (\\d+) 8 \\[".r

  /** EPS: level-2 PostScript raster the way Pillow's EpsImagePlugin saves —
    * `%%BoundingBox: 0 0 w h`, a `readhexstring` image operator (`image`
    * for L, `false 3 colorimage` for RGB), rows top-down as hex pairs.
    * LA drops alpha to L; P/RGBA force RGB (PostScript rasters have no
    * alpha or palette). */
  def encodeEps(buf: PixelBuf): Array[Byte] = {
    val b = buf.mode match {
      case "L" | "RGB" => buf
      case "LA" => convertMode(buf, "L")
      case _ => convertMode(buf, "RGB")
    }
    val comps = PixelBuf.channelsOf(b.mode)
    val sb = new java.lang.StringBuilder(256 + b.data.length * 2)
    sb.append("%!PS-Adobe-3.0 EPSF-3.0\n")
    sb.append("%%BoundingBox: 0 0 ").append(b.width).append(' ')
      .append(b.height).append('\n')
    sb.append("%%Pages: 1\n%%EndComments\n")
    sb.append("gsave\n")
    sb.append("/picstr ").append(b.width * comps).append(" string def\n")
    sb.append(b.width).append(' ').append(b.height).append(" scale\n")
    sb.append(b.width).append(' ').append(b.height).append(" 8 [")
      .append(b.width).append(" 0 0 -").append(b.height).append(" 0 ")
      .append(b.height).append("]\n")
    sb.append("{ currentfile picstr readhexstring pop }\n")
    sb.append(if (comps == 1) "image\n" else "false 3 colorimage\n")
    val hex = "0123456789abcdef"
    var i = 0
    while (i < b.data.length) {
      val v = b.data(i) & 0xff
      sb.append(hex.charAt(v >>> 4)).append(hex.charAt(v & 0xf))
      i += 1
      if (i % (b.width * comps) == 0) sb.append('\n')
    }
    sb.append("grestore\nshowpage\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Parse the raster back out of an [[encodeEps]]-shaped stream (general
    * PostScript needs an interpreter — anything without a readhexstring
    * raster is a named error, matching Pillow's ghostscript-less refusal). */
  private def decodeEps(bytes: Array[Byte], sink: PixelBuf): ImageMeta = {
    val text = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val bbox = EpsBBoxRe.findFirstMatchIn(text).getOrElse(throw
      new IllegalArgumentException("EPS has no origin-anchored %%BoundingBox"))
    val w = bbox.group(1).toInt
    val h = bbox.group(2).toInt
    val m = EpsMatrixRe.findFirstMatchIn(text).getOrElse(throw
      new IllegalArgumentException("EPS carries no hex raster image matrix"))
    require(m.group(1).toInt == w && m.group(2).toInt == h,
      s"EPS raster ${m.group(1)}x${m.group(2)} disagrees with BoundingBox ${w}x$h")
    val isColor = text.indexOf("false 3 colorimage\n", m.end) >= 0
    val op = if (isColor) "false 3 colorimage\n" else "image\n"
    val opAt = text.indexOf(op, m.end)
    require(opAt >= 0, "EPS image operator not found after the matrix")
    val comps = if (isColor) 3 else 1
    require(w >= 1 && h >= 1 && w.toLong * h * comps <= (64L << 20),
      s"EPS raster ${w}x$h exceeds the 64 MiB decode cap")
    sink.init(if (isColor) "RGB" else "L", w, h)
    val need = w * h * comps
    var sum = 0L
    var outAt = 0
    var hi = -1
    var i = opAt + op.length
    while (outAt < need && i < text.length) {
      val c = text.charAt(i)
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else {
          val v = (hi << 4) | d
          sink.data(outAt) = v.toByte
          sum += v
          outAt += 1
          hi = -1
        }
      } else require(c == '\n' || c == '\r' || c == ' ' || c == '\t',
        s"EPS hex data interrupted by '$c'")
      i += 1
    }
    require(outAt == need, s"EPS hex data truncated: $outAt of $need bytes")
    ImageMeta("eps", w, h, sink.mode, sum)
  }

  def encodeGif(buf: PixelBuf): Array[Byte] = {
    // the logical screen descriptor stores u16 dimensions: oversize input
    // must be a named error, not a silently truncated (corrupt) file
    require(buf.width <= 0xffff && buf.height <= 0xffff,
      s"GIF geometry ${buf.width}x${buf.height} exceeds the format's 65535 limit")
    val (indices, palette) = buf.mode match {
      case "LA" => throw new IllegalArgumentException(
        "GIF cannot encode mode LA (convert first)") // named, not MatchError
      case "P" => requirePalette(buf); (buf.data, buf.palette)
      case "L" =>
        (buf.data, Array.tabulate[Byte](768)(i => (i / 3).toByte))
      case "RGB" | "RGBA" =>
        val rgb = if (buf.mode == "RGB") buf else convertMode(buf, "RGB")
        val colorIdx = new java.util.LinkedHashMap[Int, Int]()
        val n = buf.width * buf.height
        val idx = new Array[Byte](n)
        var i = 0
        while (i < n) {
          val c = ((rgb.data(i * 3) & 0xff) << 16) |
            ((rgb.data(i * 3 + 1) & 0xff) << 8) | (rgb.data(i * 3 + 2) & 0xff)
          var k = colorIdx.getOrDefault(c, -1)
          if (k < 0) {
            k = colorIdx.size()
            require(k < 256,
              "GIF encode needs <=256 distinct colors (no quantizer here)")
            colorIdx.put(c, k)
          }
          idx(i) = k.toByte
          i += 1
        }
        val pal = new Array[Byte](768)
        colorIdx.forEach { (c, k) =>
          pal(k * 3) = (c >> 16).toByte; pal(k * 3 + 1) = (c >> 8).toByte
          pal(k * 3 + 2) = c.toByte
        }
        (idx, pal)
    }
    val out = new ByteSink(indices.length / 2 + 1024)
    out.write("GIF89a".getBytes, 0, 6)
    out.u16le(buf.width); out.u16le(buf.height)
    out.write(0xf7) // global table, 256 entries, 8-bit color resolution
    out.write(0); out.write(0)
    out.write(palette, 0, 768)
    out.write(0x2c) // image descriptor
    out.u16le(0); out.u16le(0); out.u16le(buf.width); out.u16le(buf.height)
    out.write(0) // no local table, not interlaced
    out.write(8) // LZW min code size
    // chop into <=255-byte sub-blocks
    val data = gifLzwEncode(indices)
    var at = 0
    while (at < data.length) {
      val n = math.min(255, data.length - at)
      out.write(n)
      out.write(data, at, n)
      at += n
    }
    out.write(0) // sub-block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** THE GIF LZW encoder (min code size 8; shared with the fixture
    * generator so the subtle convention lives in exactly one place): LSB-
    * first variable-width codes matching [[MediaCodecs.decodeGif]] AND the
    * giflib/Pillow/ImageIO ecosystem (cross-pinned both directions against
    * the JDK's independent GIF codec in ImageIoConformanceSpec) — the
    * encoder grows one entry after the decoder's 1 << codeWidth because
    * the decoder's table lags this one by a single entry; a full table
    * emits Clear WITHOUT defining a 4096th entry. */
  private[graft] def gifLzwEncode(indices: Array[Byte]): Array[Byte] = {
    val minCodeSize = 8
    val lzw = new LsbWriter(indices.length / 2 + 64)
    var codeWidth = minCodeSize + 1
    def put(code: Int): Unit = lzw.put(code, codeWidth)
    val Clear = 1 << minCodeSize
    val Eoi = Clear + 1
    // dictionary: (prefix code << 8 | next byte) -> code
    val dict = new java.util.HashMap[Int, Int]()
    var nextCode = Eoi + 1
    put(Clear)
    var prev = -1
    var i = 0
    while (i < indices.length) {
      val b = indices(i) & 0xff
      if (prev < 0) prev = b
      else {
        val key = (prev << 8) | b
        val hit = dict.getOrDefault(key, -1)
        if (hit >= 0) prev = hit
        else {
          put(prev)
          if (nextCode < 4096) {
            dict.put(key, nextCode)
            nextCode += 1
            // one LATER than the decoder's 1 << codeWidth: the decoder
            // lags this table by one entry, so its next-free-slot hits
            // the boundary one code after ours (giflib's `> MaxCode1`)
            if (nextCode == (1 << codeWidth) + 1 && codeWidth < 12) codeWidth += 1
          } else { // table full: clear and restart, nothing defined
            put(Clear)
            dict.clear()
            nextCode = Eoi + 1
            codeWidth = minCodeSize + 1
          }
          prev = b
        }
      }
      i += 1
    }
    if (prev >= 0) put(prev)
    // the decoder defines one more entry on reading that final code (which
    // this encoder never defines), so if THAT addition lands exactly on the
    // boundary the decoder reads Eoi one bit wider
    if (nextCode == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
    put(Eoi)
    lzw.toBytes
  }
}
