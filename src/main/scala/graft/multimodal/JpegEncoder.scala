package graft.multimodal

import graft.multimodal.MediaCodecs.PixelBuf
import graft.util.ByteSink

/** Production baseline-JPEG ENCODER (the reference's `img.save(..., "JPEG",
  * quality=...)` direction, /root/reference/src/converters/
  * image_converters.py:118-137): forward 2D DCT per 8x8 block, annex-K
  * quantization tables scaled by the libjpeg quality convention, and the
  * standard annex-K Huffman entropy layer — a complete JFIF stream
  * [[JpegCodec.decode]] (or any conforming decoder) reads back.
  *
  * Layout: grayscale (mode L) as one component; RGB via the JFIF color
  * transform as YCbCr 4:4:4 (luma quant/table 0, chroma quant table 1).
  * Edge blocks are padded by edge replication, so flat content stays flat
  * — which is what makes the lossy path exactly verifiable: a block that
  * is constant has a DC-only DCT, and at quality >= 50 the scaled luma DC
  * step divides the coefficient grid, so band-constant images round-trip
  * pixel-exactly (the ic_jpeg oracle). Non-flat content is bounded by the
  * quantization error, asserted in ImageConvertSpec.
  */
object JpegEncoder {

  /** T.81 annex K.1 luminance / K.2 chrominance base tables (row-major). */
  private val BaseLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val BaseChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** libjpeg quality scaling: 1..100 -> per-entry step in 1..255. */
  private[multimodal] def scaleTable(base: Array[Int], quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"JPEG quality $quality out of 1-100")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(q => math.max(1, math.min(255, (q * scale + 50) / 100)))
  }

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64) // t(x*8+u) = cos((2x+1) u pi / 16)
    for (x <- 0 until 8; u <- 0 until 8)
      t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
    t
  }

  /** Forward 2D DCT (T.81 A.3.3) of one level-shifted 8x8 block, quantized
    * against `quant` — the exact inverse pairing of [[JpegCodec.reconstruct]].
    * Separable (rows then columns): same sum reassociated, 8x fewer
    * multiplies than the direct double sum on the per-block hot path. */
  private[multimodal] def forwardBlock(samples: Array[Int], quant: Array[Int]): Array[Int] = {
    val tmp = new Array[Double](64) // tmp(y*8+u) = sum_x s(y,x) C(x,u)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var x = 0
        while (x < 8) {
          acc += (samples(y * 8 + x) - 128) * CosTable(x * 8 + u)
          x += 1
        }
        tmp(y * 8 + u) = acc
        u += 1
      }
      y += 1
    }
    val out = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < 8) {
          acc += tmp(yy * 8 + u) * CosTable(yy * 8 + v)
          yy += 1
        }
        val cu = if (u == 0) 0.70710678118654752440 else 1.0
        val cv = if (v == 0) 0.70710678118654752440 else 1.0
        val coef = acc * cu * cv / 4.0
        out(v * 8 + u) = math.round(coef / quant(v * 8 + u)).toInt
        u += 1
      }
      v += 1
    }
    out
  }

  /** Encode an L or RGB raster as a baseline JFIF stream. Other modes must
    * be adapted by the caller ([[ImageConvert.encode]] does P/RGBA -> RGB
    * and LA -> L, the reference's save-path forcing). */
  def encode(buf: PixelBuf, quality: Int): Array[Byte] = {
    require(buf.mode == "L" || buf.mode == "RGB",
      s"JPEG encode takes L or RGB input, got ${buf.mode}")
    // SOF codes dims as u16: oversize must be a named error, not a
    // silently truncated (corrupt) stream — same contract as encodeGif
    require(buf.width <= 0xffff && buf.height <= 0xffff,
      s"JPEG geometry ${buf.width}x${buf.height} exceeds the format's 65535 limit")
    val comps = if (buf.mode == "L") 1 else 3
    val lumaQ = scaleTable(BaseLuma, quality)
    val chromaQ = scaleTable(BaseChroma, quality)
    val w = buf.width
    val h = buf.height
    val bx = (w + 7) / 8
    val by = (h + 7) / 8

    // component planes (level-unshifted 0..255 samples), edge-replicated
    // to the block grid; RGB goes through the JFIF transform per pixel
    val planes = Array.ofDim[Int](comps, bx * 8 * by * 8)
    def clamp(v: Double): Int = math.max(0, math.min(255, math.round(v).toInt))
    var y = 0
    while (y < by * 8) {
      val sy = math.min(y, h - 1)
      var x = 0
      while (x < bx * 8) {
        val sx = math.min(x, w - 1)
        val at = y * bx * 8 + x
        if (comps == 1) planes(0)(at) = buf.data(sy * w + sx) & 0xff
        else {
          val r = buf.data((sy * w + sx) * 3) & 0xff
          val g = buf.data((sy * w + sx) * 3 + 1) & 0xff
          val b = buf.data((sy * w + sx) * 3 + 2) & 0xff
          planes(0)(at) = clamp(0.299 * r + 0.587 * g + 0.114 * b)
          planes(1)(at) = clamp(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
          planes(2)(at) = clamp(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        }
        x += 1
      }
      y += 1
    }

    val out = new ByteSink()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }

    marker(0xd8) // SOI
    marker(0xe0) // APP0 / JFIF
    out.u16be(16)
    out.write("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(0)
    out.write(1); out.write(1)
    out.write(0)
    out.u16be(1); out.u16be(1)
    out.write(0); out.write(0)

    def dqt(id: Int, q: Array[Int]): Unit = {
      marker(0xdb)
      out.u16be(2 + 1 + 64)
      out.write(id)
      for (k <- 0 until 64) out.write(q(JpegCodec.ZigZag(k))) // zigzag order
    }
    dqt(0, lumaQ)
    if (comps == 3) dqt(1, chromaQ)

    marker(0xc0) // SOF0, all components 1x1
    out.u16be(2 + 6 + 3 * comps)
    out.write(8)
    out.u16be(h); out.u16be(w)
    out.write(comps)
    for (c <- 1 to comps) {
      out.write(c)
      out.write(0x11)
      out.write(if (c == 1) 0 else 1) // quant table id
    }

    def dht(tcTh: Int, counts: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      out.u16be(2 + 1 + 16 + vals.length)
      out.write(tcTh)
      counts.foreach(out.write)
      vals.foreach(out.write)
    }
    dht(0x00, JpegCodec.StdDcCounts, JpegCodec.StdDcVals)
    dht(0x10, JpegCodec.StdAcCounts, JpegCodec.StdAcVals)

    marker(0xda) // SOS: every component on DC 0 / AC 0
    out.u16be(2 + 1 + 2 * comps + 3)
    out.write(comps)
    for (c <- 1 to comps) { out.write(c); out.write(0x00) }
    out.write(0); out.write(63); out.write(0)

    val dcCodes = JpegCodec.encodeTable(JpegCodec.StdDcCounts, JpegCodec.StdDcVals)
    val acCodes = JpegCodec.encodeTable(JpegCodec.StdAcCounts, JpegCodec.StdAcVals)
    val bits = new JpegCodec.BitWriter(out)
    val preds = new Array[Int](comps)
    val block = new Array[Int](64)
    var mcu = 0
    while (mcu < bx * by) {
      val x0 = (mcu % bx) * 8
      val y0 = (mcu / bx) * 8
      var c = 0
      while (c < comps) {
        var k = 0
        while (k < 64) {
          block(k) = planes(c)((y0 + k / 8) * bx * 8 + x0 + k % 8)
          k += 1
        }
        val coef = forwardBlock(block, if (c == 0) lumaQ else chromaQ)
        preds(c) = JpegCodec.writeBaselineBlock(bits, coef, preds(c), dcCodes, acCodes)
        c += 1
      }
      mcu += 1
    }
    bits.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }
}
