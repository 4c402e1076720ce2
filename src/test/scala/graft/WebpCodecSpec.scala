package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.MediaFixtures
import graft.multimodal.{ImageConvert, WebpCodec}
import graft.multimodal.MediaCodecs
import graft.multimodal.MediaCodecs.PixelBuf
import graft.util.LsbWriter

class WebpCodecSpec extends AnyFunSuite {

  private def mkBuf(mode: String, w: Int, h: Int, seed: Int = 0): PixelBuf = {
    val buf = new PixelBuf
    buf.init(mode, w, h)
    var i = 0
    // LCG covers the full byte range incl. 0x00/0xff boundaries
    var s = seed * 2654435761L + 1
    while (i < buf.data.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      buf.data(i) = (s >>> 33).toByte
      i += 1
    }
    buf
  }

  test("VP8L header bytes match the spec bit layout, not just our own reader") {
    // 1x1 RGB: payload starts after the 20-byte RIFF/WEBP/VP8L framing.
    // Hand-derived LSB-first stream: signature 0x2f; then width-1 (14 bits
    // of 0) + height-1 (14 bits of 0) + alpha_hint 0 + version 000 = 32
    // zero bits (bytes 1-4); byte 5 carries transform=0, cache=0, meta=0,
    // green-code is_simple=0, then num_code_lengths-4 = 8 = 0b1000 written
    // LSB-first (0,0,0,1) -> bits [0,0,0,0,0,0,0,1] = 0x80; byte 6 carries
    // the first code-length-code lengths in kCodeLengthCodeOrder: 17 -> 2
    // (0,1,0), 18 -> 2 (0,1,0), 0 -> 0 (0,0) -> bits [0,1,0,0,1,0,0,0] =
    // 0x12.
    val buf = new PixelBuf
    buf.init("RGB", 1, 1)
    buf.data(0) = 120.toByte; buf.data(1) = 200.toByte; buf.data(2) = 31.toByte
    val enc = WebpCodec.encode(buf)
    assert(new String(enc, 0, 4, "ISO-8859-1") == "RIFF")
    assert(new String(enc, 8, 8, "ISO-8859-1") == "WEBPVP8L")
    assert((enc(20) & 0xff) == 0x2f, "VP8L signature")
    for (k <- 21 to 24) assert(enc(k) == 0, s"dims/version byte $k")
    assert((enc(25) & 0xff) == 0x80, "transform/cache/meta + CL count byte")
    assert((enc(26) & 0xff) == 0x12, "first three code-length-code lengths")
    // the header-level parser reads the same dims from the same bits
    val hdr = MediaCodecs.parseWebp(enc)
    assert(hdr.width == 1 && hdr.height == 1 && hdr.variant == "vp8l")
  }

  test("RGB and RGBA rasters round-trip pixel-exactly through VP8L") {
    for ((mode, w, h, seed) <- Seq(("RGB", 9, 5, 1), ("RGB", 16, 16, 7),
                                   ("RGBA", 7, 11, 3), ("RGBA", 1, 1, 9))) {
      val src = mkBuf(mode, w, h, seed)
      val enc = WebpCodec.encode(src)
      val sink = new PixelBuf
      val meta = WebpCodec.decode(enc, sink)
      assert(meta.format == "webp" && meta.width == w && meta.height == h)
      assert(meta.mode == mode, s"$mode came back ${meta.mode}")
      assert(java.util.Arrays.equals(sink.data, src.data), s"$mode $w x $h pixels")
      val hdr = MediaCodecs.parseWebp(enc)
      assert(hdr.width == w && hdr.height == h)
    }
  }

  test("convert surface: every mode reaches webp; gray planes survive as RGB") {
    for (srcMode <- Seq("L", "LA", "P", "RGB", "RGBA")) {
      val src = {
        val b = mkBuf(srcMode, 6, 4, 5)
        if (srcMode == "P")
          b.palette = Array.tabulate[Byte](768)(i => ((i * 11 + 5) % 256).toByte)
        b
      }
      val out = ImageConvert.encode(src, "webp")
      val (meta, sink) = ImageConvert.decodePixels(out)
      assert(meta.width == 6 && meta.height == 4)
      assert(meta.mode == (if (srcMode == "RGBA") "RGBA" else "RGB"))
      val want = ImageConvert.convertMode(
        if (srcMode == "LA") ImageConvert.convertMode(src, "L") else src,
        meta.mode)
      assert(java.util.Arrays.equals(sink.data, want.data), s"$srcMode pixels")
    }
  }

  test("foreign code shapes decode: simple 2-symbol, CL repeat-16, max_symbol") {
    // Hand-packed 2x1 RGBA VP8L stream exercising what OUR encoder never
    // writes: a normal green code transmitted via the max_symbol shortcut
    // (4 CL reads cover symbols 10 and 20, rest zeroed by the cap), a
    // single-symbol red code, a blue code whose lengths use CL symbol 16
    // (repeat previous nonzero), and a simple TWO-symbol alpha code.
    // Pixels: (r,g,b,a) = (7,10,5,200), (7,20,8,255).
    val w = new LsbWriter
    w.put(0x2f, 8)
    w.put(1, 14); w.put(0, 14) // 2x1
    w.put(1, 1)                // alpha used
    w.put(0, 3)                // version
    w.put(0, 1); w.put(0, 1); w.put(0, 1) // no transform/cache/meta
    // GREEN (alphabet 280): normal code, CL lens over ClOrder[0..3] =
    // [17,18,0,1] -> [1,0,0,1]; max_symbol = 2 + 2 (nbits 2); reads:
    // 17(+3 extra: 10 zeros), sym10 len 1, 17(+6: 9 zeros), sym20 len 1
    w.put(0, 1)        // not simple
    w.put(0, 4)        // num_code_lengths = 4
    w.put(1, 3); w.put(0, 3); w.put(0, 3); w.put(1, 3)
    w.put(1, 1)        // use max_symbol
    w.put(0, 3)        // length_nbits = 2
    w.put(2, 2)        // max_symbol = 2 + 2 = 4 reads
    // CL canonical: sym1 -> code 0 (len 1), sym17 -> code 1
    w.putCode(1, 1); w.put(7, 3)  // 17: 3+7 = 10 zeros
    w.putCode(0, 1)               // symbol 10 gets length 1
    w.putCode(1, 1); w.put(6, 3)  // 17: 3+6 = 9 zeros
    w.putCode(0, 1)               // symbol 20 gets length 1
    // RED: simple single-symbol 7 (0 bits per pixel)
    w.put(1, 1); w.put(0, 1); w.put(1, 1); w.put(7, 8)
    // BLUE: normal code, lens 5..8 -> 2 via one literal + CL 16 repeat;
    // CL lens over ClOrder[0..8] = [17,18,0,1,2,3,4,5,16] ->
    // [3,3,0,0,1,0,0,0,2]; canonical: 2->0(1), 16->10(2), 17->110, 18->111
    w.put(0, 1)
    w.put(5, 4)        // num_code_lengths = 9
    for (l <- Seq(3, 3, 0, 0, 1, 0, 0, 0, 2)) w.put(l, 3)
    w.put(0, 1)        // no max_symbol
    w.putCode(6, 3); w.put(2, 3)  // 17: 3+2 = 5 zeros (symbols 0-4)
    w.putCode(0, 1)               // symbol 5 -> length 2
    w.putCode(2, 2); w.put(0, 2)  // 16: repeat len 2 x(3+0) -> symbols 6,7,8
    w.putCode(7, 3); w.put(127, 7) // 18: 138 zeros
    w.putCode(7, 3); w.put(98, 7)  // 18: 109 zeros (247 total)
    // ALPHA: simple TWO symbols {200, 255} -> 1 bit per pixel
    w.put(1, 1); w.put(1, 1); w.put(1, 1); w.put(200, 8); w.put(255, 8)
    // DISTANCE: simple single-symbol 0
    w.put(1, 1); w.put(0, 1); w.put(0, 1); w.put(0, 1)
    // pixels: green(1 bit), blue(2 bits), alpha(1 bit); red is 0 bits
    w.putCode(0, 1)               // g = 10
    w.putCode(0, 2)               // b = 5  (canonical code 00)
    w.putCode(0, 1)               // a = 200
    w.putCode(1, 1)               // g = 20
    w.putCode(3, 2)               // b = 8  (canonical code 11)
    w.putCode(1, 1)               // a = 255
    val payload = w.toBytes
    val out = new java.io.ByteArrayOutputStream()
    def u32le(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    out.write("RIFF".getBytes("ISO-8859-1"))
    u32le(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes("ISO-8859-1"))
    out.write("VP8L".getBytes("ISO-8859-1"))
    u32le(payload.length)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    val sink = new PixelBuf
    val meta = WebpCodec.decode(out.toByteArray, sink)
    assert(meta.width == 2 && meta.height == 1 && meta.mode == "RGBA")
    assert(sink.data.toSeq.map(_ & 0xff) ==
      Seq(7, 10, 5, 200, 7, 20, 8, 255), sink.data.toSeq)
    assert(meta.pixelSum == 512)
  }

  test("malformed, extended, and truncated streams are named errors, not guesses") {
    val sink = new PixelBuf
    // a header-only VP8 chunk (sync + dims, zero first-partition size) is
    // not a decodable key frame: the real lossy decoder names the framing
    // violation instead of guessing pixels (real decode is pinned against
    // libwebp in the conformance test below)
    val lossy = MediaFixtures.webp(8, 8, variant = 0)
    assert(intercept[IllegalArgumentException](WebpCodec.decode(lossy, sink))
      .getMessage.contains("partition"))
    // a still VP8X whose VP8 fragment is header-only fails the same framing
    // gate; the synthetic ANIMATED VP8X (garbage ANMF frame headers) now
    // reaches the real animation decoder and fails its canvas-containment
    // gate by name, while the routing pre-probe declines it (its declared
    // frame pixels blow the cumulative cap) so it keeps the header path
    val extendedStill = MediaFixtures.webp(8, 8, variant = 2)
    assert(intercept[IllegalArgumentException](WebpCodec.decode(extendedStill, sink))
      .getMessage.contains("partition"))
    val animated = MediaFixtures.webp(8, 8, variant = 2, frames = 3)
    assert(intercept[IllegalArgumentException](WebpCodec.decode(animated, sink))
      .getMessage.contains("canvas"))
    assert(!WebpCodec.isExtendedStill(animated))
    assert(WebpCodec.isAnimation(animated))
    assert(MediaCodecs.decodeImage(animated).isEmpty, "over-cap -> header path")
    // truncated payloads are named errors, not short pixels: a short file
    // fails the chunk-bounds walk; a chunk whose declared size cuts the
    // entropy data fails the bit reader
    val enc = WebpCodec.encode(mkBuf("RGB", 3, 3))
    val cut = java.util.Arrays.copyOfRange(enc, 0, enc.length - 4)
    assert(intercept[IllegalArgumentException](WebpCodec.decode(cut, sink))
      .getMessage.contains("overruns"))
    val short = WebpCodec.encode(mkBuf("RGB", 3, 3))
    val declared = (short(16) & 0xff) | ((short(17) & 0xff) << 8)
    short(16) = ((declared - 4) & 0xff).toByte // shrink the VP8L chunk size
    assert(intercept[IllegalArgumentException](
      WebpCodec.decode(java.util.Arrays.copyOfRange(short, 0, short.length - 4), sink))
      .getMessage.contains("truncated"))
  }

  // ---- libwebp conformance fixtures ----------------------------------------
  // src/main/resources/webp/*.webp were produced by the SYSTEM libwebp
  // encoder (scripts/gen_webp_fixtures.py) from the deterministic pixel
  // generators mirrored below — predictor / cross-color / subtract-green /
  // palette transforms, color cache, LZ77 backrefs, the streams the real
  // web carries. Decoding them pixel-exactly anchors the decoder against
  // the ecosystem encoder, not our own encoder's dialect.

  /** Mirror of gen_webp_fixtures.lcg_bytes: 31-bit LCG, byte = bits 16-23. */
  private def lcgBytes(seed: Int, n: Int): Array[Byte] = {
    var s = seed & 0x7fffffff
    Array.fill(n) {
      s = (s * 1103515245 + 12345) & 0x7fffffff
      ((s >> 16) & 0xff).toByte
    }
  }

  private def fromRgb(w: Int, h: Int)(px: (Int, Int) => Seq[Int]): PixelBuf = {
    val buf = new PixelBuf
    val chans = px(0, 0).length
    buf.init(if (chans == 4) "RGBA" else "RGB", w, h)
    for (y <- 0 until h; x <- 0 until w; (v, c) <- px(x, y).zipWithIndex)
      buf.data((y * w + x) * chans + c) = v.toByte
    buf
  }

  private def paletteSrc(w: Int, h: Int, seed: Int, ncolors: Int): PixelBuf = {
    val pal = lcgBytes(seed, ncolors * 3)
    val idx = lcgBytes(seed + 1, w * h)
    fromRgb(w, h) { (x, y) =>
      val k = ((idx(y * w + x) & 0xff) % ncolors) * 3
      Seq(pal(k) & 0xff, pal(k + 1) & 0xff, pal(k + 2) & 0xff)
    }
  }

  private def tiledSrc(w: Int, h: Int, seed: Int, tw: Int, th: Int): PixelBuf = {
    val tile = lcgBytes(seed, tw * th * 3)
    fromRgb(w, h) { (x, y) =>
      val t = ((y % th) * tw + (x % tw)) * 3
      Seq(tile(t) & 0xff, tile(t + 1) & 0xff, tile(t + 2) & 0xff)
    }
  }

  private def noiseSrc(w: Int, h: Int, seed: Int): PixelBuf = {
    val b = lcgBytes(seed, w * h * 3)
    fromRgb(w, h) { (x, y) =>
      val i = (y * w + x) * 3
      Seq(b(i) & 0xff, b(i + 1) & 0xff, b(i + 2) & 0xff)
    }
  }

  private val fixtureSources: Seq[(String, PixelBuf)] = Seq(
    "noise_rgb" -> noiseSrc(33, 29, 7),
    "gradient" -> fromRgb(40, 32)((x, y) =>
      Seq((x * 5) & 0xff, (x * 3 + y * 3) & 0xff, (y * 7) & 0xff)),
    "palette2" -> paletteSrc(41, 17, 11, 2),
    "palette4" -> paletteSrc(37, 23, 13, 4),
    "palette16" -> paletteSrc(29, 31, 17, 16),
    "palette200" -> paletteSrc(26, 22, 19, 200),
    "repeat" -> tiledSrc(48, 30, 23, 7, 5),
    "rgba_alpha" -> {
      val rgb = lcgBytes(29, 32 * 32 * 3)
      fromRgb(32, 32) { (x, y) =>
        val i = (y * 32 + x) * 3
        Seq(rgb(i) & 0xff, rgb(i + 1) & 0xff, rgb(i + 2) & 0xff,
          1 + (x * 7 + y * 3) % 255)
      }
    },
    "photo_large" -> fromRgb(160, 120)((x, y) =>
      Seq(((x * x + y * y) >> 3) & 0xff, ((x * y) >> 2) & 0xff,
        ((x * 3 + y * 5) >> 1) & 0xff)),
    "mixed_large" -> {
      val noise = lcgBytes(31, 144 * 112 * 3)
      fromRgb(144, 112) { (x, y) =>
        if (x < 72) Seq((x * 5) & 0xff, (x * 3 + y * 3) & 0xff, (y * 7) & 0xff)
        else {
          val i = (y * 144 + x) * 3
          Seq(noise(i) & 0xff, noise(i + 1) & 0xff, noise(i + 2) & 0xff)
        }
      }
    },
    "correlated" -> {
      val noise = lcgBytes(37, 64 * 48)
      fromRgb(64, 48) { (x, y) =>
        val g = (x * 2 + y * 3) & 0xff
        Seq((g + (noise(y * 64 + x) & 7)) & 0xff, g, ((g >> 1) + (x & 3)) & 0xff)
      }
    },
    "tc_repeat" -> tiledSrc(60, 51, 41, 20, 17))

  test("committed libwebp-encoded fixtures decode pixel-exactly") {
    for ((name, src) <- fixtureSources) {
      val is = getClass.getResourceAsStream(s"/webp/$name.webp")
      assert(is != null, s"fixture $name.webp missing from resources")
      val bytes = try is.readAllBytes() finally is.close()
      assert(WebpCodec.isLossless(bytes), s"$name is not a simple VP8L file")
      val sink = new PixelBuf
      val meta = WebpCodec.decode(bytes, sink)
      assert(meta.width == src.width && meta.height == src.height, name)
      assert(meta.mode == src.mode, s"$name mode ${meta.mode} != ${src.mode}")
      assert(java.util.Arrays.equals(sink.data, src.data), s"$name pixels")
    }
  }

  test("null-sink decode returns identical metadata without a raster copy") {
    for (name <- Seq("mixed_large", "rgba_alpha", "palette200")) {
      val is = getClass.getResourceAsStream(s"/webp/$name.webp")
      val bytes = try is.readAllBytes() finally is.close()
      val withSink = WebpCodec.decode(bytes, new PixelBuf)
      val noSink = WebpCodec.decode(bytes, null)
      assert(noSink == withSink, s"$name metadata diverged on null sink")
      assert(WebpCodec.rasterWithinCap(bytes), name)
      assert(MediaCodecs.decodeImage(bytes).contains(withSink), name)
    }
  }

  test("legal-but-over-cap VP8L keeps the header-dims path, not an error row") {
    // hand-packed 16384x16384 RGB header (LSB-first: 14+14 one-bits, then
    // alpha=0, version=0) — a legal size the 64 MiB raster cap rejects
    val out = new java.io.ByteArrayOutputStream
    def u32le(v: Int): Unit = { out.write(v); out.write(v >> 8); out.write(v >> 16); out.write(v >> 24) }
    out.write("RIFF".getBytes("ISO-8859-1")); u32le(22)
    out.write("WEBPVP8L".getBytes("ISO-8859-1")); u32le(10)
    out.write(0x2f); out.write(0xff); out.write(0xff); out.write(0xff); out.write(0x0f)
    out.write(Array.fill[Byte](5)(0))
    val big = out.toByteArray
    assert(WebpCodec.isLossless(big))
    assert(!WebpCodec.rasterWithinCap(big), "16384x16384 RGB must exceed the cap")
    assert(MediaCodecs.decodeImage(big).isEmpty, "over-cap must fall to parseWebp")
    val hdr = MediaCodecs.parseWebp(big)
    assert(hdr.width == 16384 && hdr.height == 16384, "header dims stay real")
    // and the cap still guards the decoder itself for a direct call
    assert(intercept[IllegalArgumentException](WebpCodec.decode(big, null))
      .getMessage.contains("64 MiB"))
    // a VP8L chunk declaring size < 5 must not have dims probed from the
    // bytes that follow it: the probe defers to decode's named error
    val short = big.clone()
    short(16) = 4; short(17) = 0; short(18) = 0; short(19) = 0
    assert(WebpCodec.rasterWithinCap(short), "short chunk defers to decode")
  }

  // ---- lossy VP8 conformance (src/main/resources/vp8) ----------------------
  // Fixtures encoded by the SYSTEM libwebp at qualities 20-90
  // (scripts/gen_vp8_fixtures.py); the oracle is libwebp's OWN decode of
  // each stream: manifest.tsv pins md5s of the WebPDecodeYUV planes (VP8
  // reconstruction is integer-exact per RFC 6386, so the match must be
  // byte-exact) and of the WebPDecodeRGBA raster (pinning the fancy
  // upsampler + fixed-point YUV->RGB port too).

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  test("lossy VP8 fixtures reproduce libwebp's own YUV planes byte-exactly") {
    val is = getClass.getResourceAsStream("/vp8/manifest.tsv")
    assert(is != null, "vp8 manifest missing from classpath")
    val lines = try new String(is.readAllBytes(), "UTF-8").trim.split("\n")
      finally is.close()
    assert(lines.length == graft.multimodal.WebpFixtures.lossyNames.length)
    for (line <- lines) {
      val Array(name, w, h, mY, mU, mV, mRgba, pixSum, mode) = line.split("\t")
      val bytes = graft.multimodal.WebpFixtures.bytes(name)
      assert(!WebpCodec.isLossless(bytes), name)
      // raw 4:2:0 reconstruction of the VP8 key frame
      val (vp8At, vp8Size) =
        if (WebpCodec.isSimpleLossy(bytes)) (20, graft.util.ByteCursor(bytes).i32le(16))
        else { // VP8X+ALPH: locate the VP8 chunk
          assert(WebpCodec.isExtendedStill(bytes), name)
          var i = 12; var at = -1; var sz = -1
          while (at < 0 && i + 8 <= bytes.length) {
            val fcc = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
            val s = graft.util.ByteCursor(bytes).i32le(i + 4)
            if (fcc == "VP8 ") { at = i + 8; sz = s }
            i += 8 + s + (s & 1)
          }
          (at, sz)
        }
      val frame = graft.multimodal.Vp8Codec.decode(bytes, vp8At, vp8Size)
      assert(frame.width == w.toInt && frame.height == h.toInt, name)
      assert(md5hex(frame.y) == mY, s"$name luma plane")
      assert(md5hex(frame.u) == mU, s"$name U plane")
      assert(md5hex(frame.v) == mV, s"$name V plane")
      // RGB(A) surface through the public decode: must equal WebPDecodeRGBA
      val sink = new PixelBuf
      val meta = WebpCodec.decode(bytes, sink)
      assert(meta.width == w.toInt && meta.height == h.toInt, name)
      assert(meta.mode == mode, name)
      assert(meta.pixelSum == pixSum.toLong, s"$name pixel sum")
      val rgba =
        if (mode == "RGBA") sink.data
        else {
          val n = frame.width * frame.height
          val buf = new Array[Byte](n * 4)
          var i = 0
          while (i < n) {
            buf(i * 4) = sink.data(i * 3)
            buf(i * 4 + 1) = sink.data(i * 3 + 1)
            buf(i * 4 + 2) = sink.data(i * 3 + 2)
            buf(i * 4 + 3) = -1
            i += 1
          }
          buf
        }
      assert(md5hex(rgba) == mRgba, s"$name RGBA raster vs WebPDecodeRGBA")
      // routing: decodeImage claims it; null-sink decode agrees
      assert(MediaCodecs.decodeImage(bytes).contains(meta), name)
      assert(WebpCodec.decode(bytes, null) == meta, name)
    }
  }

  // ---- animated WebP (src/main/resources/webp_anim) -------------------------
  // The animation layer is hand-assembled per the container spec by
  // scripts/gen_anim_webp_fixtures.py (no libwebpmux in this sandbox) while
  // every FRAME payload is libwebp-encoded and its expected pixels are
  // libwebp's OWN still decode of that payload; blended frames carry
  // strictly binary alpha so the manifest's canvas sums hold under ANY
  // correct integer blend convention (the fractional rounding is pinned by
  // the hand-computed blendOver test below, not by the fixtures).

  test("animated WebP fixtures reproduce the composited timeline digests") {
    val manifest = graft.multimodal.WebpFixtures.animManifest
    assert(manifest.keySet == graft.multimodal.WebpFixtures.animNames.toSet)
    for (name <- graft.multimodal.WebpFixtures.animNames) {
      val (cw, ch, nFrames, firstSum, timelineSum) = manifest(name)
      val bytes = graft.multimodal.WebpFixtures.bytes(name)
      assert(WebpCodec.isAnimation(bytes), name)
      assert(!WebpCodec.isExtendedStill(bytes), name)
      assert(WebpCodec.rasterWithinCap(bytes), name)
      val sink = new PixelBuf
      val meta = WebpCodec.decode(bytes, sink)
      assert(meta.width == cw && meta.height == ch, name)
      assert(meta.mode == "RGBA", name)
      assert(meta.frames == nFrames, name)
      assert(meta.pixelSum == timelineSum, s"$name timeline digest")
      // the sink holds the canvas AFTER FRAME 1 (the Pillow frame-0 view)
      assert(sink.data.map(_ & 0xff).map(_.toLong).sum == firstSum,
        s"$name first-frame canvas")
      // header path still reports the same frame count; decodeImage claims
      val hdr = MediaCodecs.parseWebp(bytes)
      assert(hdr.width == cw && hdr.height == ch && hdr.frames == nFrames, name)
      assert(MediaCodecs.decodeImage(bytes).contains(meta), name)
      assert(WebpCodec.decode(bytes, null) == meta, name)
    }
  }

  test("blendOver: fractional alpha follows the documented exact-rational form") {
    // src (200,10,255) a=128 OVER dst (50,130,0) a=100:
    // D = 100·127 = 12700, Nₐ = 128·255 + D = 45340
    // outC = (sc·32640 + dc·12700 + 22670) / 45340 -> (158, 44, 184)
    // outA = (45340 + 127) / 255 = 178
    val canvas = Array[Byte](50, 130.toByte, 0, 100)
    WebpCodec.blendOver(canvas, 0, Array[Byte](200.toByte, 10, 255.toByte, 128.toByte), 0)
    assert(canvas.toSeq == Seq[Byte](158.toByte, 44, 184.toByte, 178.toByte))
    // sa = 255 overwrites; sa = 0 keeps dst
    val c2 = Array[Byte](1, 2, 3, 4)
    WebpCodec.blendOver(c2, 0, Array[Byte](9, 8, 7, -1), 0)
    assert(c2.toSeq == Seq[Byte](9, 8, 7, -1))
    val c3 = Array[Byte](1, 2, 3, 4)
    WebpCodec.blendOver(c3, 0, Array[Byte](9, 8, 7, 0), 0)
    assert(c3.toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("animated WebP malformations are named errors") {
    val good = graft.multimodal.WebpFixtures.bytes("anim_subrect")
    def findAnmf(b: Array[Byte]): Int = {
      var i = 12
      while (!(b(i) == 'A' && b(i + 1) == 'N' && b(i + 2) == 'M' && b(i + 3) == 'F'))
        i += 8 + graft.util.ByteCursor(b).i32le(i + 4) + (graft.util.ByteCursor(b).i32le(i + 4) & 1)
      i
    }
    // frame rect pushed outside the canvas: bump frame_x of the first ANMF
    val oob = good.clone()
    val p = findAnmf(oob) + 8
    oob(p) = 0xff.toByte; oob(p + 1) = 0x7f
    assert(intercept[IllegalArgumentException](WebpCodec.decode(oob, null))
      .getMessage.contains("exceeds the"))
    // ANMF shorter than its 16-byte frame header
    val short = good.clone()
    val at = findAnmf(short)
    short(at + 4) = 8; short(at + 5) = 0; short(at + 6) = 0; short(at + 7) = 0
    assert(intercept[IllegalArgumentException](WebpCodec.decode(short, null))
      .getMessage.contains("ANMF"))
    // over-cap canvas stays on the header path (rasterWithinCap = false)
    val huge = good.clone()
    huge(24) = 0xff.toByte; huge(25) = 0xff.toByte; huge(26) = 0xff.toByte
    assert(!WebpCodec.rasterWithinCap(huge))
    assert(MediaCodecs.parseWebp(huge).width == 1 << 24) // header dims survive
  }

  test("animation bomb cap counts the per-frame canvas digest, not just frame pixels") {
    // 4095x4095 canvas (16,769,025 px — RGBA just inside the 64 MiB
    // raster cap) with one 100x100 frame: frame-pixels-only accounting
    // (10,000) would pass trivially, but the composite/digest pass
    // touches the whole canvas, so frame + canvas = 16,779,025 must trip
    // the 16M cumulative cap on the FIRST frame.
    def u24le(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte)
    val out = new java.io.ByteArrayOutputStream()
    def chunk(fcc: String, body: Array[Byte]): Unit = {
      out.write(fcc.getBytes, 0, 4)
      val s = body.length
      out.write(s & 0xff); out.write((s >> 8) & 0xff)
      out.write((s >> 16) & 0xff); out.write((s >> 24) & 0xff)
      out.write(body, 0, s)
      if ((s & 1) == 1) out.write(0)
    }
    val side = 4095
    chunk("VP8X", Array[Byte](0x02, 0, 0, 0) ++ u24le(side - 1) ++ u24le(side - 1))
    val anmf = u24le(0) ++ u24le(0) ++ u24le(99) ++ u24le(99) ++
      u24le(40) ++ Array[Byte](0x02) // 100x100 frame at (0,0), no payload
    chunk("ANMF", anmf)
    val payload = out.toByteArray
    val file = new java.io.ByteArrayOutputStream()
    file.write("RIFF".getBytes); val n = payload.length + 4
    file.write(n & 0xff); file.write((n >> 8) & 0xff)
    file.write((n >> 16) & 0xff); file.write((n >> 24) & 0xff)
    file.write("WEBP".getBytes); file.write(payload, 0, payload.length)
    val bytes = file.toByteArray
    assert(WebpCodec.isAnimation(bytes))
    assert(!WebpCodec.rasterWithinCap(bytes), "pre-probe must decline the digest bomb")
    assert(intercept[IllegalArgumentException](WebpCodec.decodeAnimation(bytes, null))
      .getMessage.contains("16M-pixel cap"))
  }
}
