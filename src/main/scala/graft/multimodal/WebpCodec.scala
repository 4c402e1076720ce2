package graft.multimodal

import java.io.ByteArrayOutputStream

import graft.multimodal.MediaCodecs.{ImageMeta, PixelBuf}
import graft.util.{BitReader, ByteCursor, ByteSink, LsbReader, LsbWriter}

/** WebP VP8L (lossless) codec — the `.webp` arm of the reference's image
  * output whitelist (/root/reference/src/converters/image_converters.py:50-52
  * and the `save_kwargs['quality']` webp branch at :122-126; Pillow's
  * `lossless=True` path is the one with an exact round-trip contract).
  *
  * ENCODE writes the simplest conforming stream: no transforms, no color
  * cache, one Huffman group — flat 8-bit prefix codes for the green/red/blue
  * (and, when used, alpha) channels and single-symbol codes for the unused
  * alphabets. ~1 byte/channel/pixel: the spec's entropy machinery is used
  * for CONFORMANCE, not compression (matching the repo-wide "deterministic
  * writer + real decoder" discipline).
  *
  * DECODE handles the full VP8L spec: arbitrary prefix codes (simple 1-2
  * symbol codes and code-length-coded normal codes, including 16/17/18
  * repeats and the max_symbol variant), all four transforms (predictor,
  * cross-color, subtract-green, color indexing with pixel bundling),
  * color cache, LZ77 backward references, and meta-prefix code groups —
  * i.e. the streams libwebp's own encoder emits, pinned pixel-exact in
  * WebpCodecSpec against committed fixtures produced by the real libwebp
  * encoder. Lossy (`VP8 `) stills decode through [[Vp8Codec]] (the full
  * RFC 6386 key-frame pipeline, pinned byte-exact against libwebp's own
  * YUV/RGBA output), including VP8X+ALPH stills (lossy + alpha plane).
  * Animated (`VP8X`/ANMF) decodes end-to-end via [[decodeAnimation]] —
  * every frame through the same pinned paths, composited per the
  * container spec; only over-cap files keep the
  * [[MediaCodecs.parseWebp]] header path.
  *
  * Bit conventions (WebP Lossless Bitstream Specification): the stream is
  * read LSB-first (the shared [[graft.util.LsbReader]]/[[graft.util.LsbWriter]]);
  * canonical prefix codes are transmitted bit-reversed and matched
  * MSB-of-code-first, exactly DEFLATE's duality. Pinned against
  * hand-derived spec bytes in WebpCodecSpec, not just round-trip.
  */
object WebpCodec {

  /** kCodeLengthCodeOrder: the fixed transmission order of the 19
    * code-length-code lengths. */
  private val ClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private val truncated = BitReader.requireFailed("VP8L stream truncated")

  // ---- canonical prefix codes --------------------------------------------

  /** Decoder-side code: either a single 0-bit symbol or a complete
    * canonical code (counts/firstCode/symbols per length). */
  private final class PrefixCode(lens: Array[Int]) {
    private val MaxLen = 15
    val single: Int = {
      var only = -1
      var used = 0
      for (s <- lens.indices if lens(s) > 0) { only = s; used += 1 }
      require(used > 0, "prefix code with no symbols")
      if (used == 1) only else -1
    }
    private val count = new Array[Int](MaxLen + 1)
    private val firstCode = new Array[Int](MaxLen + 1)
    private val offset = new Array[Int](MaxLen + 1)
    private val sorted: Array[Int] =
      if (single >= 0) Array.empty
      else {
        for (l <- lens) {
          require(l <= MaxLen, s"prefix length $l exceeds 15")
          if (l > 0) count(l) += 1
        }
        var code = 0
        var kraft = 0L
        for (l <- 1 to MaxLen) {
          code = (code + count(l - 1)) << 1
          firstCode(l) = code
          kraft += count(l).toLong << (MaxLen - l)
        }
        require(kraft == (1L << MaxLen), "incomplete/oversubscribed prefix code")
        var at = 0
        for (l <- 1 to MaxLen) { offset(l) = at; at += count(l) }
        val arr = new Array[Int](at)
        val fill = offset.clone()
        for (s <- lens.indices if lens(s) > 0) { arr(fill(lens(s))) = s; fill(lens(s)) += 1 }
        arr
      }
    def decode(in: LsbReader): Int =
      if (single >= 0) single
      else {
        var code = 0
        var len = 0
        while (true) {
          code = (code << 1) | in.bit()
          len += 1
          require(len <= MaxLen, "prefix code walk exceeded 15 bits")
          if (count(len) > 0 && code - firstCode(len) < count(len) && code >= firstCode(len))
            return sorted(offset(len) + code - firstCode(len))
        }
        -1 // unreachable
      }
  }

  /** Read one prefix code header (simple or code-length-coded). */
  private def readCode(in: LsbReader, alphabetSize: Int): PrefixCode = {
    val lens = new Array[Int](alphabetSize)
    if (in.read(1) == 1) { // simple
      val numSymbols = in.read(1) + 1
      val first = if (in.read(1) == 1) in.read(8) else in.read(1)
      require(first < alphabetSize, s"simple-code symbol $first out of alphabet")
      lens(first) = 1
      if (numSymbols == 2) {
        val second = in.read(8)
        require(second < alphabetSize, s"simple-code symbol $second out of alphabet")
        require(second != first, "simple code repeats its symbol")
        lens(second) = 1
      } else return new PrefixCode(lens) // single symbol: 0-bit code
      new PrefixCode(lens)
    } else {
      val numClLens = 4 + in.read(4)
      val clLens = new Array[Int](19)
      for (i <- 0 until numClLens) clLens(ClOrder(i)) = in.read(3)
      val clCode = new PrefixCode(clLens)
      var maxSymbol =
        if (in.read(1) == 1) {
          val lengthNBits = 2 + 2 * in.read(3)
          2 + in.read(lengthNBits)
        } else alphabetSize
      var prev = 8
      var i = 0
      while (i < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val sym = clCode.decode(in)
        sym match {
          case s if s < 16 =>
            lens(i) = s
            i += 1
            if (s != 0) prev = s
          case 16 =>
            val rep = 3 + in.read(2)
            require(i + rep <= alphabetSize, "code-length repeat overruns alphabet")
            for (_ <- 0 until rep) { lens(i) = prev; i += 1 }
          case 17 =>
            val rep = 3 + in.read(3)
            require(i + rep <= alphabetSize, "code-length zero-run overruns alphabet")
            i += rep
          case _ => // 18
            val rep = 11 + in.read(7)
            require(i + rep <= alphabetSize, "code-length zero-run overruns alphabet")
            i += rep
        }
      }
      new PrefixCode(lens)
    }
  }

  // ---- encode -------------------------------------------------------------

  /** Write the shared flat-8 normal-code header: every one of the first 256
    * symbols at length 8 (a complete code: 256 × 2^-8 = 1), trailing
    * alphabet symbols (length/cache codes we never emit) zeroed via an
    * 18-run. CL code: symbol 8 -> len 1 (code 0), 17/18 -> len 2 (codes
    * 10/11) — complete, 12 entries deep in ClOrder (index of 8 is 11). */
  private def writeFlat8(w: LsbWriter, alphabetSize: Int): Unit = {
    w.put(0, 1) // normal code
    w.put(8, 4) // num_code_lengths = 12
    val clLens = new Array[Int](19)
    clLens(8) = 1; clLens(17) = 2; clLens(18) = 2
    for (i <- 0 until 12) w.put(clLens(ClOrder(i)), 3)
    w.put(0, 1) // no max_symbol shortcut
    var s = 0
    while (s < 256) { w.putCode(0, 1); s += 1 } // symbol 8, code 0, len 1
    val zeros = alphabetSize - 256
    if (zeros > 0) {
      require(zeros >= 11 && zeros <= 138, s"flat-8 zero tail $zeros needs one 18-run")
      w.putCode(3, 2)        // symbol 18, code 11
      w.put(zeros - 11, 7)
    }
  }

  /** Single-symbol code: 0 bits per use. */
  private def writeSingle(w: LsbWriter, sym: Int): Unit = {
    w.put(1, 1) // simple
    w.put(0, 1) // one symbol
    if (sym <= 1) { w.put(0, 1); w.put(sym, 1) }
    else { w.put(1, 1); w.put(sym, 8) }
  }

  /** Encode an RGB or RGBA raster as a lossless RIFF/WEBP/VP8L stream.
    * Other modes must be adapted by the caller ([[ImageConvert.encode]]
    * forces RGB, Pillow's webp save shape — webp has no gray layout).
    * Ecosystem conformance: the emitted streams decode pixel-exactly
    * under the REAL libwebp (scripts/check_webp_encode.py, dev-time —
    * the JVM ships no independent VP8L decoder to pin against in-suite),
    * and the header bit layout is pinned against hand-derived spec bytes
    * in WebpCodecSpec. */
  def encode(buf: PixelBuf): Array[Byte] = {
    require(buf.mode == "RGB" || buf.mode == "RGBA",
      s"VP8L encode takes RGB or RGBA input, got ${buf.mode}")
    require(buf.width <= 16384 && buf.height <= 16384,
      s"VP8L dims ${buf.width}x${buf.height} exceed the format's 16384 limit")
    val hasAlpha = buf.mode == "RGBA"
    val w = new LsbWriter
    w.put(0x2f, 8) // VP8L signature
    w.put(buf.width - 1, 14)
    w.put(buf.height - 1, 14)
    w.put(if (hasAlpha) 1 else 0, 1)
    w.put(0, 3)    // version
    w.put(0, 1)    // no transforms
    w.put(0, 1)    // no color cache
    w.put(0, 1)    // no meta-prefix image
    writeFlat8(w, 280) // green + 24 length codes (zeroed)
    writeFlat8(w, 256) // red
    writeFlat8(w, 256) // blue
    if (hasAlpha) writeFlat8(w, 256) else writeSingle(w, 255) // alpha
    writeSingle(w, 0)  // distance (never emitted)
    val ch = if (hasAlpha) 4 else 3
    val n = buf.width * buf.height
    var i = 0
    while (i < n) {
      val r = buf.data(i * ch) & 0xff
      val g = buf.data(i * ch + 1) & 0xff
      val b = buf.data(i * ch + 2) & 0xff
      w.putCode(g, 8) // flat code: symbol s IS its canonical code
      w.putCode(r, 8)
      w.putCode(b, 8)
      if (hasAlpha) w.putCode(buf.data(i * ch + 3) & 0xff, 8)
      i += 1
    }
    val payload = w.toBytes
    val out = new ByteSink(payload.length + 20)
    out.write("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.u32le(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write("VP8L".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.u32le(payload.length)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0) // RIFF 2-byte alignment
    out.toByteArray
  }

  // ---- decode ---------------------------------------------------------------

  /** kCodeToPlane: the spec's 120-entry short-distance neighborhood map
    * (distance codes 1..120 address the 16x8 window above/left of the
    * current pixel, ordered by squared distance). Entry = (y << 4) |
    * (8 - x); distance = y * width + x. Extracted from the system
    * libwebp and validated monotone-by-squared-distance with 120 unique
    * (x, y) pairs before embedding. */
  private val CodeToPlane: Array[Int] = Array(
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a, 0x26, 0x2a,
    0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a, 0x25, 0x2b, 0x48, 0x04,
    0x47, 0x49, 0x14, 0x1c, 0x35, 0x3b, 0x46, 0x4a, 0x24, 0x2c, 0x58, 0x45,
    0x4b, 0x34, 0x3c, 0x03, 0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d,
    0x44, 0x4c, 0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b, 0x32, 0x3e,
    0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f, 0x64, 0x6c, 0x42, 0x4e,
    0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b, 0x31, 0x3f, 0x63, 0x6d, 0x52, 0x5e,
    0x00, 0x74, 0x7c, 0x41, 0x4f, 0x10, 0x20, 0x62, 0x6e, 0x30, 0x73, 0x7d,
    0x51, 0x5f, 0x40, 0x72, 0x7e, 0x61, 0x6f, 0x50, 0x71, 0x7f, 0x60, 0x70)

  /** ceil(size / 2^bits): sub-image (transform / entropy / packed-index)
    * dimensions. */
  private def subSize(size: Int, bits: Int): Int = (size + (1 << bits) - 1) >> bits

  /** Per-channel mod-256 add of two ARGB pixels (the predictor residual
    * add and the palette delta sum). Carries out of alpha/green land in
    * masked-off bits, so two masked adds cover all four channels. */
  private def addPixels(a: Int, b: Int): Int = {
    val ag = ((a & 0xff00ff00) + (b & 0xff00ff00)) & 0xff00ff00
    val rb = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    ag | rb
  }

  /** Per-channel floor average of two ARGB pixels. */
  private def average2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Predictor 11: return whichever of L/T is closer (Manhattan over the
    * four channels) to the per-channel gradient estimate L + T - TL;
    * ties go to T. */
  private def select(l: Int, t: Int, tl: Int): Int = {
    var pl = 0
    var pt = 0
    var s = 0
    while (s < 32) {
      val lc = (l >>> s) & 0xff
      val tc = (t >>> s) & 0xff
      val p = lc + tc - ((tl >>> s) & 0xff)
      pl += math.abs(p - lc)
      pt += math.abs(p - tc)
      s += 8
    }
    if (pl < pt) l else t
  }

  /** Predictor 12: per-channel clamp(L + T - TL). */
  private def casFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var s = 0
    while (s < 32) {
      out |= clamp255(((l >>> s) & 0xff) + ((t >>> s) & 0xff) -
        ((tl >>> s) & 0xff)) << s
      s += 8
    }
    out
  }

  /** Predictor 13: a = avg(L,T) per channel; clamp(a + (a - TL) / 2) with
    * C-style truncation toward zero (Scala Int `/` matches). */
  private def casHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = average2(l, t)
    var out = 0
    var s = 0
    while (s < 32) {
      val a = (ave >>> s) & 0xff
      out |= clamp255(a + (a - ((tl >>> s) & 0xff)) / 2) << s
      s += 8
    }
    out
  }

  /** LZ77 prefix-coded value (shared by length and distance): codes 0..3
    * are the value itself + 1; above that, (extra-bit count, offset)
    * grow geometrically. */
  private def lz77Value(in: LsbReader, prefix: Int): Int =
    if (prefix < 4) prefix + 1
    else {
      val extra = (prefix - 2) >> 1
      val offset = (2 + (prefix & 1)) << extra
      offset + in.read(extra) + 1
    }

  /** Distance codes 1..120 map through the neighborhood table; beyond
    * that the code is the scanline distance + 120. */
  private def planeToDistance(w: Int, code: Int): Int =
    if (code > 120) code - 120
    else {
      val v = CodeToPlane(code - 1)
      val d = (v >> 4) * w + 8 - (v & 0xf)
      if (d >= 1) d else 1
    }

  /** One meta-prefix group: the five prefix codes an LZ77-coded pixel
    * stream draws from. Green's alphabet carries literals + 24 length
    * codes + the color-cache indices. */
  private final class Group(in: LsbReader, cacheSize: Int) {
    val green: PrefixCode = readCode(in, 256 + 24 + cacheSize)
    val red: PrefixCode = readCode(in, 256)
    val blue: PrefixCode = readCode(in, 256)
    val alpha: PrefixCode = readCode(in, 256)
    val dist: PrefixCode = readCode(in, 40)
  }

  /** Decode one entropy-coded ARGB plane of `w` x `h` pixels: optional
    * color cache, optional meta-prefix group image (top level only —
    * sub-images always use a single group), then the LZ77-coded pixel
    * stream (literals, backward references, cache hits). Used for the
    * main image AND for every sub-image (transform data, entropy image,
    * palette), which the spec defines with the same grammar. */
  private def decodePlane(in: LsbReader, w: Int, h: Int, topLevel: Boolean): Array[Int] = {
    val cacheBits =
      if (in.read(1) == 1) {
        val b = in.read(4)
        require(b >= 1 && b <= 11, s"VP8L color-cache bits $b outside 1..11")
        b
      } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
    var metaBits = 0
    var metaW = 0
    var meta: Array[Int] = null
    var numGroups = 1
    if (topLevel && in.read(1) == 1) {
      metaBits = in.read(3) + 2
      metaW = subSize(w, metaBits)
      meta = decodePlane(in, metaW, subSize(h, metaBits), topLevel = false)
      var mx = 0
      var i = 0
      while (i < meta.length) {
        val v = (meta(i) >>> 8) & 0xffff // group index = (red << 8) | green
        if (v > mx) mx = v
        i += 1
      }
      numGroups = mx + 1
    }
    val groups = Array.fill(numGroups)(new Group(in, cacheSize))
    val n = w * h
    val pix = new Array[Int](n)
    var pos = 0
    var x = 0 // (column, row) of `pos`, tracked incrementally — the
    var y = 0 // meta-group lookup must not pay two divisions per symbol
    while (pos < n) {
      val g =
        if (meta == null) groups(0)
        else groups((meta((y >> metaBits) * metaW +
          (x >> metaBits)) >>> 8) & 0xffff)
      val sym = g.green.decode(in)
      if (sym < 256) { // literal: green carried by the symbol itself,
        // then red, blue, alpha in STREAM order
        val r = g.red.decode(in)
        val b = g.blue.decode(in)
        val a = g.alpha.decode(in)
        val argb = (a << 24) | (r << 16) | (sym << 8) | b
        pix(pos) = argb
        if (cache != null) cache((0x1e35a7bd * argb) >>> (32 - cacheBits)) = argb
        pos += 1
        x += 1; if (x == w) { x = 0; y += 1 }
      } else if (sym < 280) { // backward reference
        val length = lz77Value(in, sym - 256)
        val dist = planeToDistance(w, lz77Value(in, g.dist.decode(in)))
        require(dist <= pos, "VP8L backward reference before image start")
        require(length <= n - pos, "VP8L backward reference overruns image")
        var k = 0
        while (k < length) { // overlapping copies are legal, so pixel-wise
          val argb = pix(pos - dist)
          pix(pos) = argb
          if (cache != null) cache((0x1e35a7bd * argb) >>> (32 - cacheBits)) = argb
          pos += 1
          k += 1
        }
        x += length; if (x >= w) { y += x / w; x %= w }
      } else { // color-cache hit
        val idx = sym - 280
        require(cache != null && idx < cacheSize,
          "VP8L cache index without/outside the color cache")
        pix(pos) = cache(idx)
        pos += 1
        x += 1; if (x == w) { x = 0; y += 1 }
      }
    }
    pix
  }

  // ---- inverse transforms --------------------------------------------------

  private sealed trait Transform
  private final case class PredictorT(bits: Int, sub: Array[Int], subW: Int) extends Transform
  private final case class ColorT(bits: Int, sub: Array[Int], subW: Int) extends Transform
  private case object SubtractGreenT extends Transform
  private final case class PaletteT(widthBits: Int, table: Array[Int], unpackedW: Int) extends Transform

  /** Inverse predictor transform: per 2^bits block, the sub-image's green
    * channel picks one of 14 predictors; each pixel is residual + predicted
    * mod 256 per channel. Border rules override the block mode: (0,0)
    * predicts opaque black, the top row predicts L, the left column T.
    * TR for the rightmost column reads the CURRENT row's leftmost pixel
    * (the spec pins the flat-scanline-memory behavior), which flat
    * indexing gives for free. */
  private def inversePredictor(pix: Array[Int], w: Int, h: Int, bits: Int,
                               sub: Array[Int], subW: Int): Unit = {
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pred =
          if (y == 0) { if (x == 0) 0xff000000 else pix(i - 1) }
          else if (x == 0) pix(i - w)
          else {
            val l = pix(i - 1)
            val t = pix(i - w)
            val tl = pix(i - w - 1)
            val tr = pix(i - w + 1)
            (sub((y >> bits) * subW + (x >> bits)) >>> 8) & 0xff match {
              case 0 => 0xff000000
              case 1 => l
              case 2 => t
              case 3 => tr
              case 4 => tl
              case 5 => average2(average2(l, tr), t)
              case 6 => average2(l, tl)
              case 7 => average2(l, t)
              case 8 => average2(tl, t)
              case 9 => average2(t, tr)
              case 10 => average2(average2(l, tl), average2(t, tr))
              case 11 => select(l, t, tl)
              case 12 => casFull(l, t, tl)
              case 13 => casHalf(l, t, tl)
              case m => throw new IllegalArgumentException(
                s"VP8L predictor mode $m outside 0..13")
            }
          }
        pix(i) = addPixels(pix(i), pred)
        x += 1
        i += 1
      }
      y += 1
    }
  }

  /** Inverse cross-color transform: per block, three signed 3.5 fixed-
    * point multipliers ride in the sub-image (green_to_red in blue,
    * green_to_blue in green, red_to_blue in red); deltas (m * c) >> 5 on
    * SIGNED byte values are added back, red first (the red_to_blue delta
    * reads the already-restored red). */
  private def inverseColor(pix: Array[Int], w: Int, h: Int, bits: Int,
                           sub: Array[Int], subW: Int): Unit = {
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = sub((y >> bits) * subW + (x >> bits))
        val argb = pix(i)
        val g = ((argb >>> 8) & 0xff).toByte
        val r = (((argb >>> 16) & 0xff) + (((cte & 0xff).toByte * g) >> 5)) & 0xff
        val b = ((argb & 0xff) + ((((cte >>> 8) & 0xff).toByte * g) >> 5) +
          ((((cte >>> 16) & 0xff).toByte * r.toByte) >> 5)) & 0xff
        pix(i) = (argb & 0xff00ff00) | (r << 16) | b
        x += 1
        i += 1
      }
      y += 1
    }
  }

  /** Inverse subtract-green: add green back onto red and blue, mod 256. */
  private def inverseSubtractGreen(pix: Array[Int]): Unit = {
    var i = 0
    while (i < pix.length) {
      val argb = pix(i)
      val g = (argb >>> 8) & 0xff
      pix(i) = (argb & 0xff00ff00) |
        (((((argb >>> 16) & 0xff) + g) & 0xff) << 16) |
        (((argb & 0xff) + g) & 0xff)
      i += 1
    }
  }

  /** Inverse color-indexing: unpack bundled indices from the green channel
    * (LSB-first, 8 >> widthBits bits each) and look them up; indices past
    * the table are transparent black, matching libwebp's zero-padded
    * lookup. Returns the widened plane. */
  private def inversePalette(pix: Array[Int], pw: Int, h: Int, widthBits: Int,
                             table: Array[Int], outW: Int): Array[Int] = {
    val bpp = 8 >> widthBits
    val xMask = (1 << widthBits) - 1
    val idxMask = (1 << bpp) - 1
    val lut = new Array[Int](idxMask + 1)
    System.arraycopy(table, 0, lut, 0, math.min(table.length, lut.length))
    val out = new Array[Int](outW * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < outW) {
        val green = (pix(y * pw + (x >> widthBits)) >>> 8) & 0xff
        out(y * outW + x) = lut((green >>> ((x & xMask) * bpp)) & idxMask)
        x += 1
      }
      y += 1
    }
    out
  }

  /** The VP8L image-stream BODY (everything after the 5-byte header):
    * transform list in stream order (each type at most once; only color
    * indexing changes the coded width, for everything read after it),
    * coded pixel plane, then inverse transforms in reverse order. Shared
    * by the VP8L path of [[decode]] and the headerless ALPH alpha stream
    * ([[decodeAlphaPlane]]) — the container spec omits exactly the header
    * for alpha, the body grammar is identical. */
  private def decodeArgbBody(in: LsbReader, w: Int, h: Int): Array[Int] = {
    var curW = w
    val transforms = scala.collection.mutable.ListBuffer.empty[Transform]
    var seenMask = 0
    while (in.read(1) == 1) {
      val t = in.read(2)
      require((seenMask & (1 << t)) == 0, "VP8L transform type repeated")
      seenMask |= 1 << t
      t match {
        case 0 | 1 =>
          val bits = in.read(3) + 2
          val subW = subSize(curW, bits)
          val img = decodePlane(in, subW, subSize(h, bits), topLevel = false)
          transforms += (if (t == 0) PredictorT(bits, img, subW)
                         else ColorT(bits, img, subW))
        case 2 => transforms += SubtractGreenT
        case _ =>
          val tableSize = in.read(8) + 1
          val table = decodePlane(in, tableSize, 1, topLevel = false)
          var i = 1
          while (i < tableSize) { // entries are per-channel deltas
            table(i) = addPixels(table(i), table(i - 1))
            i += 1
          }
          val widthBits =
            if (tableSize > 16) 0 else if (tableSize > 4) 1
            else if (tableSize > 2) 2 else 3
          transforms += PaletteT(widthBits, table, curW)
          curW = subSize(curW, widthBits)
      }
    }
    var pix = decodePlane(in, curW, h, topLevel = true)
    var pw = curW
    transforms.reverseIterator.foreach {
      case PredictorT(bits, sub, subW) => inversePredictor(pix, pw, h, bits, sub, subW)
      case ColorT(bits, sub, subW) => inverseColor(pix, pw, h, bits, sub, subW)
      case SubtractGreenT => inverseSubtractGreen(pix)
      case PaletteT(widthBits, table, unpackedW) =>
        pix = inversePalette(pix, pw, h, widthBits, table, unpackedW)
        pw = unpackedW
    }
    require(pw == w, s"VP8L transform width $pw != header width $w")
    pix
  }

  /** Decode a VP8X ALPH chunk into a w*h alpha plane (container spec §
    * "Alpha"): one header byte — reserved(2) preprocessing(2) filtering(2)
    * compression(2) — then either the raw plane (method 0) or a HEADERLESS
    * VP8L image-stream whose green channel carries alpha (method 1), then
    * the horizontal/vertical/gradient prediction filter undone with
    * libwebp's exact border rules (row 0 always unfilters horizontally;
    * later rows predict x=0 from the pixel above). Preprocessing (level
    * reduction) is encoder-side only — decoders reconstruct as-is. */
  private def decodeAlphaPlane(bytes: Array[Byte], at: Int, end: Int,
                               w: Int, h: Int): Array[Byte] = {
    require(end - at >= 1, "ALPH chunk empty")
    val hdr = bytes(at) & 0xff
    val filt = (hdr >> 2) & 3
    val plane = (hdr & 3) match {
      case 0 =>
        require(end - at - 1 >= w * h, "raw ALPH plane shorter than the canvas")
        java.util.Arrays.copyOfRange(bytes, at + 1, at + 1 + w * h)
      case 1 =>
        val pix = decodeArgbBody(new LsbReader(bytes, at + 1, end, truncated), w, h)
        val out = new Array[Byte](w * h)
        var i = 0
        while (i < out.length) { out(i) = ((pix(i) >>> 8) & 0xff).toByte; i += 1 }
        out
      case m => throw new IllegalArgumentException(s"unknown ALPH compression method $m")
    }
    if (filt > 0) {
      var y = 0
      while (y < h) {
        val row = y * w
        if (y == 0 || filt == 1) {
          // horizontal: pred = left; x=0 predicts from the row above
          var pred = if (y == 0) 0 else plane(row - w) & 0xff
          var x = 0
          while (x < w) {
            pred = (pred + plane(row + x)) & 0xff
            plane(row + x) = pred.toByte
            x += 1
          }
        } else if (filt == 2) { // vertical: pred = above
          var x = 0
          while (x < w) {
            plane(row + x) = (((plane(row - w + x) & 0xff) + (plane(row + x) & 0xff)) & 0xff).toByte
            x += 1
          }
        } else { // gradient: pred = clip(left + above - above-left); x=0 -> above
          var left = plane(row - w) & 0xff
          var topLeft = left
          var x = 0
          while (x < w) {
            val top = plane(row - w + x) & 0xff
            val g = left + top - topLeft
            val pred = if ((g & ~0xff) == 0) g else if (g < 0) 0 else 255
            left = ((plane(row + x) & 0xff) + pred) & 0xff
            plane(row + x) = left.toByte
            topLeft = top
            x += 1
          }
        }
        y += 1
      }
    }
    plane
  }

  /** Decode a WebP's pixels into `sink`. Lossless (`VP8L`) covers the full
    * spec: all four transforms (predictor, cross-color, subtract-green,
    * color indexing with pixel bundling), color cache, LZ77 backward
    * references and meta-prefix code groups, i.e. the streams libwebp's
    * own encoder emits — pinned pixel-exact against committed
    * libwebp-encoded fixtures in WebpCodecSpec. Lossy (`VP8 `) stills
    * route through [[Vp8Codec]] (RFC 6386 key-frame reconstruction +
    * libwebp's fancy upsampler, pinned byte-exact the same way). Extended
    * (`VP8X`) containers are named errors — header-level metadata for
    * those stays on [[MediaCodecs.parseWebp]]. A null `sink` skips the
    * raster copy-out (metadata/pixel-sum callers) but still pays the full
    * pixel decode and the same 64 MiB bomb cap as sinked decode, which
    * bounds the decoder's own intermediate planes (4 B/px VP8L Int plane
    * at 4/3 of the cap; 1.5 B/px padded YUV for VP8). */
  def decode(bytes: Array[Byte], sink: PixelBuf): ImageMeta = {
    require(MediaCodecs.isWebp(bytes), "not a WebP payload")
    if (isAnimation(bytes)) return decodeAnimation(bytes, sink)
    // chunk walk in Long like MediaCodecs.parseWebp: an Int `i + 8 + size`
    // wraps negative on a crafted size and bypasses the bounds require.
    // Collect the image chunks first (an extended file carries ALPH before
    // VP8), then dispatch.
    var i = 12L
    var at = -1
    var end = -1
    var vp8At = -1
    var vp8Size = -1
    var alphAt = -1
    var alphEnd = -1
    val riff = ByteCursor(bytes)
    while (i + 8 <= bytes.length) {
      val fourcc = new String(bytes, i.toInt, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = riff.i32le(i.toInt + 4)
      require(size >= 0 && i + 8 + size.toLong <= bytes.length,
        s"RIFF chunk $fourcc overruns payload")
      fourcc match {
        case "VP8L" if at < 0 => at = i.toInt + 8; end = at + size
        case "VP8 " if vp8At < 0 => vp8At = i.toInt + 8; vp8Size = size
        case "ALPH" if alphAt < 0 => alphAt = i.toInt + 8; alphEnd = alphAt + size
        case "VP8X" =>
          require(size >= 10, "VP8X chunk too short")
        case _ => () // ICCP/EXIF/XMP metadata chunks don't affect pixels
      }
      i += 8L + size + (size & 1)
    }
    // animated files were routed to decodeAnimation above; a VP8X whose
    // ANIM flag is set but that [[isAnimation]] rejected is unreachable
    // (both test bytes(20)), so this walk only sees stills
    if (at < 0 && vp8At >= 0) {
      // lossy still image: one VP8 key frame ([[Vp8Codec]]), plus the
      // optional VP8X ALPH plane (raw or headerless-VP8L coded, filtered)
      val frame = Vp8Codec.decode(bytes, vp8At, vp8Size)
      val alpha =
        if (alphAt >= 0) decodeAlphaPlane(bytes, alphAt, alphEnd, frame.width, frame.height)
        else null
      val mode = if (alpha != null) "RGBA" else "RGB"
      if (sink != null) sink.init(mode, frame.width, frame.height)
      else MediaCodecs.PixelBuf.checkCap(mode, frame.width, frame.height)
      val out = if (sink == null) null else sink.data
      val chn = PixelBuf.channelsOf(mode)
      var sum = Vp8Codec.toRgb(frame, out, chn)
      if (alpha != null) {
        var p = 0
        while (p < alpha.length) {
          sum += alpha(p) & 0xff
          if (out != null) out(p * 4 + 3) = alpha(p)
          p += 1
        }
      }
      return ImageMeta("webp", frame.width, frame.height, mode, sum)
    }
    require(at >= 0, "WebP has no VP8L or VP8 image chunk")
    val in = new LsbReader(bytes, at, end, truncated)
    require(in.read(8) == 0x2f, "bad VP8L signature")
    val w = in.read(14) + 1
    val h = in.read(14) + 1
    val alphaHint = in.read(1)
    require(in.read(3) == 0, "unknown VP8L version")
    val mode = if (alphaHint == 1) "RGBA" else "RGB"
    // raster bomb cap BEFORE any plane allocation. It counts OUTPUT raster
    // bytes (3/px for RGB), so the decoder's 4-byte/px Int plane is bounded
    // at 4/3 of the 64 MiB cap, not the cap itself — same convention as the
    // PNG/GIF decoders, whose intermediate buffers also ride above the cap.
    // Null-sink (metadata) callers must hit the SAME gate as sinked ones so
    // the two paths accept identical files.
    if (sink != null) sink.init(mode, w, h)
    else MediaCodecs.PixelBuf.checkCap(mode, w, h)
    val pix = decodeArgbBody(in, w, h)
    val ch = PixelBuf.channelsOf(mode)
    val n = w * h
    val out = if (sink == null) null else sink.data
    var sum = 0L
    var px = 0
    while (px < n) {
      val argb = pix(px)
      val r = (argb >>> 16) & 0xff
      val g = (argb >>> 8) & 0xff
      val b = argb & 0xff
      sum += r + g + b
      if (out != null) {
        out(px * ch) = r.toByte
        out(px * ch + 1) = g.toByte
        out(px * ch + 2) = b.toByte
      }
      if (ch == 4) {
        val a = argb >>> 24
        if (out != null) out(px * ch + 3) = a.toByte
        sum += a
      }
      px += 1
    }
    ImageMeta("webp", w, h, mode, sum)
  }

  /** True when the payload is a simple lossless container (first chunk
    * `VP8L`) — the shape [[decode]] handles end-to-end. Lossy and
    * VP8X-extended files stay on the header-metadata path. */
  def isLossless(bytes: Array[Byte]): Boolean =
    MediaCodecs.isWebp(bytes) && bytes.length >= 16 &&
      bytes(12) == 'V' && bytes(13) == 'P' && bytes(14) == '8' && bytes(15) == 'L'

  /** True for a simple lossy container (first chunk `VP8 ` — one key
    * frame), the other shape [[decode]] handles end-to-end via
    * [[Vp8Codec]]. Extended (VP8X) files stay on the header path. */
  def isSimpleLossy(bytes: Array[Byte]): Boolean =
    MediaCodecs.isWebp(bytes) && bytes.length >= 16 &&
      bytes(12) == 'V' && bytes(13) == 'P' && bytes(14) == '8' && bytes(15) == ' '

  /** True for a NON-ANIMATED extended container (first chunk `VP8X`,
    * animation flag clear) — a still image, possibly with an ALPH alpha
    * plane and ICC/EXIF/XMP metadata chunks, which [[decode]] handles
    * end-to-end. Animations stay on the header path. */
  def isExtendedStill(bytes: Array[Byte]): Boolean =
    MediaCodecs.isWebp(bytes) && bytes.length >= 21 &&
      bytes(12) == 'V' && bytes(13) == 'P' && bytes(14) == '8' && bytes(15) == 'X' &&
      (bytes(20) & 0x02) == 0

  /** True for an ANIMATED extended container (first chunk `VP8X`,
    * animation flag set) — [[decodeAnimation]]'s shape. */
  def isAnimation(bytes: Array[Byte]): Boolean =
    MediaCodecs.isWebp(bytes) && bytes.length >= 21 &&
      bytes(12) == 'V' && bytes(13) == 'P' && bytes(14) == '8' && bytes(15) == 'X' &&
      (bytes(20) & 0x02) != 0

  /** Straight-alpha OVER for one RGBA pixel pair, exact-rational integer
    * form (single round-half-up per channel, no intermediate /255
    * truncation): with D = da·(255−sa) and Nₐ = sa·255 + D,
    *   outA = ⌈Nₐ/255⌋,  outC = ⌈(sc·sa·255 + dc·D)/Nₐ⌋  (0 when Nₐ=0).
    * Binary-alpha inputs (the committed fixtures) reduce to select/keep
    * under ANY correct convention; the fractional-alpha rounding here is
    * pinned by a hand-computed case in WebpCodecSpec. `c` and `d` are
    * 4-byte RGBA offsets into `canvas`/`frame`. */
  private[graft] def blendOver(canvas: Array[Byte], c: Int,
                               frame: Array[Byte], f: Int): Unit = {
    val sa = frame(f + 3) & 0xff
    if (sa == 255) {
      canvas(c) = frame(f); canvas(c + 1) = frame(f + 1)
      canvas(c + 2) = frame(f + 2); canvas(c + 3) = -1
    } else if (sa > 0) {
      val da = canvas(c + 3) & 0xff
      val dFac = da * (255 - sa)
      val nA = sa * 255 + dFac
      var ch = 0
      while (ch < 3) {
        val sc = frame(f + ch) & 0xff
        val dc = canvas(c + ch) & 0xff
        canvas(c + ch) = ((sc * sa * 255 + dc * dFac + nA / 2) / nA).toByte
        ch += 1
      }
      canvas(c + 3) = ((nA + 127) / 255).toByte
    } // sa == 0: keep dst
  }

  /** Decode an animated WebP (VP8X + ANIM + ANMF chain) by compositing
    * EVERY frame onto the canvas — libwebp anim_decode / Pillow
    * semantics: the canvas starts fully transparent black (the ANIM
    * background color is metadata; libwebp's demuxer never paints it),
    * an ANMF with blend bit 0x02 set overwrites its rect while a clear
    * bit alpha-blends it ([[blendOver]]), and the dispose bit 0x01
    * zero-fills the frame's rect AFTER it is displayed, before the next
    * frame renders. Frame payloads are ordinary ALPH?+(VP8|VP8L) chunk
    * runs and ride the same still decoders ([[Vp8Codec]],
    * [[decodeArgbBody]], [[decodeAlphaPlane]]).
    *
    * Returned meta: mode RGBA at canvas dims, `frames` = ANMF count, and
    * pixelSum = the TIMELINE DIGEST — the sum over every frame f of the
    * canvas r+g+b+a sum after f renders — so every frame decode, blend
    * and dispose sits in the oracle hash (stronger than the GIF
    * convention, whose later frames are counted, not decoded; these ARE
    * decoded, so they are pinned). A non-null `sink` receives the canvas
    * AFTER FRAME 1 — the Pillow frame-0 view the convert surface expects.
    * Total decoded frame pixels share the 16 M-pixel bomb cap with the
    * AVI sample decoder; the canvas itself pays the 64 MiB raster cap. */
  def decodeAnimation(bytes: Array[Byte], sink: PixelBuf): ImageMeta = {
    require(isAnimation(bytes), "not an animated WebP payload")
    require(bytes.length >= 30, "VP8X chunk truncated")
    val riff = ByteCursor(bytes)
    val cw = riff.u24le(24) + 1
    val ch = riff.u24le(27) + 1
    if (sink != null) sink.init("RGBA", cw, ch)
    else MediaCodecs.PixelBuf.checkCap("RGBA", cw, ch)
    val canvas = new Array[Byte](cw * ch * 4)
    var frames = 0
    var timelineSum = 0L
    var firstDone = false
    var decodedPixels = 0L
    // dispose rect of the PREVIOUS frame (applies before the next render)
    var dispX = 0; var dispY = 0; var dispW = 0; var dispH = 0
    var i = 12L
    while (i + 8 <= bytes.length) {
      val fourcc = new String(bytes, i.toInt, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = riff.i32le(i.toInt + 4)
      require(size >= 0 && i + 8 + size.toLong <= bytes.length,
        s"RIFF chunk $fourcc overruns payload")
      if (fourcc == "ANMF") {
        require(size >= 16, "ANMF chunk shorter than its 16-byte frame header")
        val p = i.toInt + 8
        val fx = riff.u24le(p) * 2
        val fy = riff.u24le(p + 3) * 2
        val fw = riff.u24le(p + 6) + 1
        val fh = riff.u24le(p + 9) + 1
        val flags = bytes(p + 15) & 0xff
        require(fx.toLong + fw <= cw && fy.toLong + fh <= ch,
          s"ANMF frame ${fw}x$fh at ($fx,$fy) exceeds the ${cw}x$ch canvas")
        // the bomb cap counts the CANVAS per frame too — the per-frame
        // digest/composite pass touches the whole canvas, so a crafted
        // file with millions of 1-px frames on a large canvas would
        // otherwise cost frames x canvas while staying under a
        // frame-pixels-only cap
        decodedPixels += fw.toLong * fh + cw.toLong * ch
        require(decodedPixels <= (16L << 20),
          s"animation decode of $decodedPixels pixels exceeds the 16M-pixel cap")
        // frame payload: ALPH? then VP8|VP8L, ordinary chunk framing
        var alphAt = -1; var alphEnd = -1
        var vp8At = -1; var vp8Size = -1
        var vp8lAt = -1; var vp8lEnd = -1
        var j = p.toLong + 16
        val end = p.toLong + size
        while (j + 8 <= end) {
          val fc = new String(bytes, j.toInt, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
          val sz = riff.i32le(j.toInt + 4)
          require(sz >= 0 && j + 8 + sz.toLong <= end,
            s"ANMF sub-chunk $fc overruns its frame")
          fc match {
            case "ALPH" if alphAt < 0 => alphAt = j.toInt + 8; alphEnd = alphAt + sz
            case "VP8 " if vp8At < 0 => vp8At = j.toInt + 8; vp8Size = sz
            case "VP8L" if vp8lAt < 0 => vp8lAt = j.toInt + 8; vp8lEnd = vp8lAt + sz
            case _ => ()
          }
          j += 8L + sz + (sz & 1)
        }
        // decode the frame to an RGBA raster at exactly (fw, fh)
        val frame = new Array[Byte](fw * fh * 4)
        if (vp8lAt >= 0) {
          val in = new LsbReader(bytes, vp8lAt, vp8lEnd, truncated)
          require(in.read(8) == 0x2f, "bad VP8L signature in ANMF frame")
          val w = in.read(14) + 1
          val h = in.read(14) + 1
          in.read(1); require(in.read(3) == 0, "unknown VP8L version in ANMF frame")
          require(w == fw && h == fh,
            s"ANMF VP8L stream ${w}x$h != frame header ${fw}x$fh")
          val pix = decodeArgbBody(in, w, h)
          var px = 0
          while (px < pix.length) {
            val argb = pix(px)
            frame(px * 4) = ((argb >>> 16) & 0xff).toByte
            frame(px * 4 + 1) = ((argb >>> 8) & 0xff).toByte
            frame(px * 4 + 2) = (argb & 0xff).toByte
            frame(px * 4 + 3) = (argb >>> 24).toByte
            px += 1
          }
        } else {
          require(vp8At >= 0, "ANMF frame has no VP8 or VP8L image chunk")
          val f = Vp8Codec.decode(bytes, vp8At, vp8Size)
          require(f.width == fw && f.height == fh,
            s"ANMF VP8 frame ${f.width}x${f.height} != frame header ${fw}x$fh")
          Vp8Codec.toRgb(f, frame, 4)
          val alpha =
            if (alphAt >= 0) decodeAlphaPlane(bytes, alphAt, alphEnd, fw, fh)
            else null
          var px = 0
          while (px < fw * fh) {
            frame(px * 4 + 3) = if (alpha != null) alpha(px) else -1
            px += 1
          }
        }
        // dispose the PREVIOUS frame's rect, then render this one
        if (dispW > 0) {
          var y = dispY
          while (y < dispY + dispH) {
            java.util.Arrays.fill(canvas, (y * cw + dispX) * 4,
              (y * cw + dispX + dispW) * 4, 0.toByte)
            y += 1
          }
        }
        val overwrite = (flags & 0x02) != 0
        var y = 0
        while (y < fh) {
          if (overwrite)
            System.arraycopy(frame, y * fw * 4, canvas, ((fy + y) * cw + fx) * 4, fw * 4)
          else {
            var x = 0
            while (x < fw) {
              blendOver(canvas, ((fy + y) * cw + fx + x) * 4, frame, (y * fw + x) * 4)
              x += 1
            }
          }
          y += 1
        }
        if ((flags & 0x01) != 0) { dispX = fx; dispY = fy; dispW = fw; dispH = fh }
        else dispW = 0
        var s = 0L
        var px = 0
        while (px < canvas.length) { s += canvas(px) & 0xff; px += 1 }
        timelineSum += s
        frames += 1
        if (!firstDone && sink != null)
          System.arraycopy(canvas, 0, sink.data, 0, canvas.length)
        firstDone = true
      }
      i += 8L + size + (size & 1)
    }
    require(frames > 0, "animated WebP has no ANMF frames")
    ImageMeta("webp", cw, ch, "RGBA", timelineSum, frames)
  }

  /** Cheap pre-probe for [[MediaCodecs.decodeImage]]: false when the
    * header dims of a (isLossless) stream would trip the 64 MiB raster
    * cap inside [[decode]] — a LEGAL VP8L file can be up to 16384x16384
    * RGBA = 1 GiB, and an over-cap-but-valid file should keep its real
    * header-dims metadata row (the [[MediaCodecs.parseWebp]] path), not
    * degrade to an error row. Malformed/truncated headers return true so
    * [[decode]] names the actual parse error. */
  def rasterWithinCap(bytes: Array[Byte]): Boolean = {
    val riff = ByteCursor(bytes)
    if (isAnimation(bytes)) {
      if (bytes.length < 30) return true // truncated — let decode name it
      val cw = riff.u24le(24) + 1
      val ch = riff.u24le(27) + 1
      if (!MediaCodecs.PixelBuf.fitsCap("RGBA", cw, ch)) return false
      // cumulative frame-pixel gate (the 16M cap decodeAnimation enforces),
      // read from the ANMF headers only — a LEGAL long animation should
      // keep its header-metadata row, not degrade to an error row
      var px = 0L
      var i = 12L
      while (i + 8 <= bytes.length) {
        val size = riff.i32le(i.toInt + 4)
        if (size < 0 || i + 8 + size.toLong > bytes.length)
          return true // malformed — let decode name it
        if (bytes(i.toInt) == 'A' && bytes(i.toInt + 1) == 'N' &&
          bytes(i.toInt + 2) == 'M' && bytes(i.toInt + 3) == 'F' && size >= 16) {
          val p = i.toInt + 8
          val fw = riff.u24le(p + 6) + 1
          val fh = riff.u24le(p + 9) + 1
          // mirror decodeAnimation's cap exactly (frame + canvas pixels
          // per frame): legal-but-over files keep the header path
          px += fw.toLong * fh + cw.toLong * ch
          if (px > (16L << 20)) return false
        }
        i += 8L + size + (size & 1)
      }
      return true
    }
    if (isExtendedStill(bytes)) {
      // VP8X canvas dims: 24-bit LE minus-one fields after flags+reserved
      if (bytes.length < 30) return true // truncated — let decode name it
      val w = riff.u24le(24) + 1
      val h = riff.u24le(27) + 1
      return MediaCodecs.PixelBuf.fitsCap("RGBA", (w + 15) & ~15, (h + 15) & ~15)
    }
    if (isSimpleLossy(bytes)) {
      // VP8 key frame: dims live in the 10-byte uncompressed frame header;
      // the gate decode applies is on the PADDED MB grid (16-px multiples)
      if (bytes.length < 30) return true // truncated — let decode name it
      val size = riff.i32le(16)
      if (size < 10) return true // malformed — let decode name it
      val w = riff.u16le(26) & 0x3fff
      val h = riff.u16le(28) & 0x3fff
      if (w == 0 || h == 0) return true // malformed — let decode name it
      return MediaCodecs.PixelBuf.fitsCap("RGB", (w + 15) & ~15, (h + 15) & ~15)
    }
    if (bytes.length < 25) return true // truncated — let decode name it
    // honor the declared VP8L chunk size: a short chunk must not have its
    // dims read from whatever bytes follow it
    val size = riff.i32le(16)
    if (size < 5) return true // malformed — let decode name it
    val in = new LsbReader(bytes, 20, 25, truncated) // VP8L chunk data starts at 20
    if (in.read(8) != 0x2f) return true
    val w = in.read(14) + 1
    val h = in.read(14) + 1
    val mode = if (in.read(1) == 1) "RGBA" else "RGB"
    MediaCodecs.PixelBuf.fitsCap(mode, w, h) // the SAME predicate decode enforces
  }
}

/** The committed libwebp-encoded VP8L conformance fixtures
  * (src/main/resources/webp, produced by scripts/gen_webp_fixtures.py with
  * the SYSTEM libwebp encoder from deterministic pixel generators):
  * together they exercise every VP8L feature — predictor, cross-color,
  * subtract-green, palette at all four bundling widths, color cache, LZ77
  * backward references, and meta-prefix groups. Loaded once per JVM from
  * the classpath, so executors read them without filesystem access; the
  * `mm_decode_webp` oracle pins dims/mode/pixel sums computed from the
  * SOURCE generators, independent of any JVM decoder. */
object WebpFixtures {
  val names: IndexedSeq[String] = IndexedSeq(
    "noise_rgb", "gradient", "palette2", "palette4", "palette16",
    "palette200", "repeat", "rgba_alpha", "photo_large", "mixed_large",
    "correlated", "tc_repeat")

  /** LOSSY (VP8 key frame) conformance fixtures (src/main/resources/vp8,
    * scripts/gen_vp8_fixtures.py): libwebp-encoded at qualities 20-90 over
    * gradient/photo/noise content, odd dims included; the `alpha_*` rows
    * are VP8X+ALPH extended files (libwebp-encoded RGBA, plus hand-built
    * raw-ALPH files covering all four prediction filters — themselves
    * pinned by libwebp decoding them). The oracle is the system libwebp's
    * OWN decode — manifest.tsv pins Y/U/V plane and RGBA md5s plus the
    * pixel sum the mm_decode_webp oracle carries. */
  val lossyNames: IndexedSeq[String] = IndexedSeq(
    "grad_q75", "photo_q50", "photo_q90", "mixed_q20", "odd_q60",
    "tiny_q80", "noise_q40", "alpha_ramp_q75", "alpha_steps_q50",
    "alpha_noise_q80", "alpha_rawf0", "alpha_rawf1", "alpha_rawf2",
    "alpha_rawf3")

  /** ANIMATED (VP8X+ANMF) conformance fixtures (src/main/resources/
    * webp_anim, scripts/gen_anim_webp_fixtures.py): the animation layer
    * is hand-assembled per the container spec (no libwebpmux here) while
    * every FRAME payload is libwebp-encoded and its expected pixels are
    * libwebp's own still decode of that payload; blended frames carry
    * strictly binary alpha so the committed canvas sums are independent
    * of integer blend rounding. manifest.tsv pins canvas dims, frame
    * count, first-frame canvas sum and the timeline digest. Covers:
    * full-canvas + sub-rect frames, alpha blend vs overwrite, dispose-to-
    * background, lossless/lossy/mixed codecs, and VP8+ALPH inside ANMF. */
  val animNames: IndexedSeq[String] = IndexedSeq(
    "anim_basic", "anim_subrect", "anim_dispose", "anim_lossy",
    "anim_mixed", "anim_lossy_alpha")

  private def load(dir: String, ns: Seq[String]): Map[String, Array[Byte]] =
    ns.map { n =>
      val is = getClass.getResourceAsStream(s"/$dir/$n.webp")
      require(is != null, s"webp fixture $dir/$n missing from classpath")
      try n -> is.readAllBytes()
      finally is.close()
    }.toMap

  private lazy val all: Map[String, Array[Byte]] =
    load("webp", names) ++ load("vp8", lossyNames) ++ load("webp_anim", animNames)

  def bytes(name: String): Array[Byte] = all(name)

  /** webp_anim/manifest.tsv rows:
    * name -> (canvasW, canvasH, nFrames, firstSum, timelineSum). */
  lazy val animManifest: Map[String, (Int, Int, Int, Long, Long)] = {
    val is = getClass.getResourceAsStream("/webp_anim/manifest.tsv")
    require(is != null, "webp_anim/manifest.tsv missing from classpath")
    try scala.io.Source.fromInputStream(is, "UTF-8").getLines().map { l =>
      val f = l.split('\t')
      f(0) -> ((f(1).toInt, f(2).toInt, f(3).toInt, f(4).toLong, f(5).toLong))
    }.toMap
    finally is.close()
  }
}
