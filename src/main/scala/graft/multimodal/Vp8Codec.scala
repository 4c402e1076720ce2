package graft.multimodal

import graft.multimodal.MediaCodecs.PixelBuf
import graft.util.ByteCursor

/** VP8 key-frame decoder (RFC 6386) — the LOSSY half of WebP, the shape
  * the reference's Pillow whitelist decodes
  * (/root/reference/src/converters/image_converters.py:42-46) and the
  * round-4 verdict's task #5.
  *
  * Scope: still images = key frames only (a lossy WebP file IS exactly one
  * VP8 key frame). Inter frames are a named error — WebP never carries
  * them outside VP8X animations, which stay header-level by design.
  *
  * The full key-frame pipeline is implemented: boolean arithmetic decoder
  * (§7), frame/segmentation/filter/quantizer headers (§9), key-frame intra
  * mode parsing with the §11.5 context trees, token partitions, DCT
  * coefficient token decoding with band/context probabilities (§13),
  * dequantization (§14.1), the exact integer inverse DCT/WHT (§14.3-14.4),
  * all fourteen intra predictors (§12), and the normal + simple in-loop
  * deblocking filters (§15). Reconstruction is integer-exact per spec, so
  * correctness is gated BYTE-EXACTLY: WebpCodecSpec decodes committed
  * libwebp-encoded fixtures (scripts/gen_vp8_fixtures.py) and pins the
  * Y/U/V planes against md5s of the system libwebp's own WebPDecodeYUV
  * output, and the RGB conversion against WebPDecodeRGBA.
  *
  * [[toRgb]] mirrors libwebp's default "fancy" chroma upsampler and
  * fixed-point BT.601 YUV→RGB (validated bit-exact against WebPDecodeRGBA
  * in gen_vp8_fixtures.py BEFORE this port was written — the generator
  * script re-derives every fixture's RGBA from the YUV planes with the
  * same formulas and asserts equality against libwebp).
  */
private[graft] object Vp8Codec {
  import Vp8Tables._

  /** Decoded frame: planes cropped to the visible size, post-loop-filter —
    * byte-identical to libwebp's WebPDecodeYUV. UV dims are ceil(w/2) x
    * ceil(h/2) (4:2:0). */
  final case class Frame(width: Int, height: Int,
                         y: Array[Byte], u: Array[Byte], v: Array[Byte])

  // ---- §7 boolean arithmetic decoder ---------------------------------------
  // Reads past the partition end are zero-filled (the spec's convention:
  // well-formed streams never *use* those bits, and the MB loops bound all
  // iteration counts, so containment needs no explicit failure here).
  private[multimodal] final class BoolDecoder(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var bitCount = 0
    private def nextByte(): Int = {
      val v = if (pos < end) b(pos) & 0xff else 0; pos += 1; v
    }
    private var value = (nextByte() << 8) | nextByte()

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1; range <<= 1; bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }
    def bit(): Int = bool(128)
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Flag-gated sign-magnitude field (quantizer / loop-filter deltas). */
    def flaggedSigned(n: Int): Int =
      if (bit() == 1) { val v = literal(n); if (bit() == 1) -v else v } else 0
    /** §8 generic tree read: entries > 0 index the next node pair,
      * entries <= 0 are -leaf. */
    def tree(t: Array[Int], probs: Array[Int], pOff: Int): Int = {
      var i = t(bool(probs(pOff)))
      while (i > 0) i = t(i + bool(probs(pOff + (i >> 1))))
      -i
    }
  }

  // ---- mode trees (§8.2, §11.5) --------------------------------------------
  // Y modes: 0=DC 1=V 2=H 3=TM 4=B_PRED; B modes: 0=DC 1=TM 2=VE 3=HE
  // 4=LD 5=RD 6=VR 7=VL 8=HD 9=HU.
  private val KfYModeTree = Array(-4, 2, 4, 6, 0, -1, -2, -3)
  private val KfYModeProb = Array(145, 156, 163, 128)
  private val UvModeTree = Array(0, 2, -1, 4, -2, -3)
  private val KfUvModeProb = Array(142, 114, 183)
  private val BModeTree = Array(
    0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -5, -6, -4, 14, -7, 16, -8, -9)
  private val SegTree = Array(2, 4, 0, -1, -2, -3)
  /** 16x16 mode -> implied B submode for neighbor context (§11.3). */
  private val ImpliedBMode = Array(0, 2, 3, 1)
  // §13.2 extra-bit probabilities for DCT value categories 1-6.
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159), Array(165, 145), Array(173, 148, 140),
    Array(176, 155, 140, 135), Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
  private val CatBase = Array(5, 7, 11, 19, 35, 67)

  private def clamp(v: Int, lo: Int, hi: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v
  @inline private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Decode the VP8 chunk payload at bytes[off, off+len). */
  def decode(bytes: Array[Byte], off: Int, len: Int): Frame = {
    require(len >= 10, "VP8 chunk too short for frame header")
    val in = ByteCursor(bytes)
    val tag = in.u24le(off)
    require((tag & 1) == 0,
      "VP8 inter frame — still-image decoder handles key frames only")
    require(((tag >> 1) & 7) <= 3, s"unknown VP8 profile ${(tag >> 1) & 7}")
    val firstPartSize = tag >>> 5
    require((bytes(off + 3) & 0xff) == 0x9d && (bytes(off + 4) & 0xff) == 0x01 &&
      (bytes(off + 5) & 0xff) == 0x2a, "VP8 key-frame sync code missing")
    val width = in.u16le(off + 6) & 0x3fff
    val height = in.u16le(off + 8) & 0x3fff
    require(width > 0 && height > 0, "VP8 frame has zero dimension")
    val dataOff = off + 10
    require(firstPartSize > 0 && dataOff + firstPartSize.toLong <= off + len,
      "VP8 first partition overruns chunk")

    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    // same decompression-bomb predicate as every other decoder; the padded
    // YUV planes are 1.5 B/px, under the 3 B/px this gate admits
    PixelBuf.checkCap("RGB", mbW << 4, mbH << 4)

    val bd = new BoolDecoder(bytes, dataOff, dataOff + firstPartSize)

    // ---- §9.2 / §9.3 frame + segmentation headers --------------------------
    bd.bit() // color space (0 in valid streams; value has no decode effect)
    bd.bit() // clamping type (reconstruction clamps unconditionally here)
    val segEnabled = bd.bit() == 1
    var updateSegMap = false
    var segAbs = false
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    if (segEnabled) {
      updateSegMap = bd.bit() == 1
      val updateFeatures = bd.bit() == 1
      if (updateFeatures) {
        segAbs = bd.bit() == 1
        var i = 0
        while (i < 4) { segQuant(i) = bd.flaggedSigned(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = bd.flaggedSigned(6); i += 1 }
      }
      if (updateSegMap) {
        var i = 0
        while (i < 3) {
          if (bd.bit() == 1) segTreeProbs(i) = bd.literal(8)
          i += 1
        }
      }
    }

    // ---- §9.4 loop filter header -------------------------------------------
    val simpleFilter = bd.bit() == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    var lfDeltaEnabled = bd.bit() == 1
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    if (lfDeltaEnabled && bd.bit() == 1) { // mode_ref_lf_delta_update
      var i = 0
      while (i < 4) { if (bd.bit() == 1) { val v = bd.literal(6); refLfDelta(i) = if (bd.bit() == 1) -v else v }; i += 1 }
      i = 0
      while (i < 4) { if (bd.bit() == 1) { val v = bd.literal(6); modeLfDelta(i) = if (bd.bit() == 1) -v else v }; i += 1 }
    }

    // ---- §9.5 token partitions ----------------------------------------------
    val nParts = 1 << bd.literal(2)
    val sizesAt = dataOff + firstPartSize
    require(sizesAt + 3L * (nParts - 1) <= off + len,
      "VP8 token partition size table overruns chunk")
    val partBd = new Array[BoolDecoder](nParts)
    var pCur = sizesAt + 3 * (nParts - 1)
    var pi = 0
    while (pi < nParts) {
      val pEnd =
        if (pi == nParts - 1) off + len
        else {
          pCur + in.u24le(sizesAt + 3 * pi)
        }
      require(pCur <= pEnd && pEnd <= off + len, s"VP8 token partition $pi overruns chunk")
      partBd(pi) = new BoolDecoder(bytes, pCur, pEnd)
      pCur = pEnd
      pi += 1
    }

    // ---- §9.6 dequantization factors ---------------------------------------
    val yacQi = bd.literal(7)
    val ydcD = bd.flaggedSigned(4)
    val y2dcD = bd.flaggedSigned(4)
    val y2acD = bd.flaggedSigned(4)
    val uvdcD = bd.flaggedSigned(4)
    val uvacD = bd.flaggedSigned(4)
    // per-segment factor sets (§14.1); one set when segmentation is off
    val qY1dc = new Array[Int](4); val qY1ac = new Array[Int](4)
    val qY2dc = new Array[Int](4); val qY2ac = new Array[Int](4)
    val qUVdc = new Array[Int](4); val qUVac = new Array[Int](4)
    var s = 0
    while (s < 4) {
      val qi =
        if (segEnabled) { if (segAbs) clamp(segQuant(s), 0, 127) else clamp(yacQi + segQuant(s), 0, 127) }
        else yacQi
      qY1dc(s) = DcQ(clamp(qi + ydcD, 0, 127))
      qY1ac(s) = AcQ(clamp(qi, 0, 127))
      qY2dc(s) = DcQ(clamp(qi + y2dcD, 0, 127)) * 2
      qY2ac(s) = math.max(AcQ(clamp(qi + y2acD, 0, 127)) * 155 / 100, 8)
      qUVdc(s) = math.min(DcQ(clamp(qi + uvdcD, 0, 127)), 132)
      qUVac(s) = AcQ(clamp(qi + uvacD, 0, 127))
      s += 1
    }

    // ---- §9.7-9.9 entropy state --------------------------------------------
    bd.bit() // refresh_entropy_probs: no effect on a single key frame
    val coeffProbs = CoeffProbs.clone()
    var cp = 0
    while (cp < 1056) {
      if (bd.bool(CoeffUpdateProbs(cp)) == 1) coeffProbs(cp) = bd.literal(8)
      cp += 1
    }
    val noCoeffSkip = bd.bit() == 1
    val probSkipFalse = if (noCoeffSkip) bd.literal(8) else 0

    // ---- §11 per-MB prediction records (all in partition 0) ----------------
    val nMb = mbW * mbH
    val yModes = new Array[Byte](nMb)
    val uvModes = new Array[Byte](nMb)
    val segIds = new Array[Byte](nMb)
    val skips = new Array[Boolean](nMb)
    val bModes = new Array[Byte](nMb * 16) // implied submodes for 16x16 MBs
    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbY * mbW + mbX
        if (segEnabled && updateSegMap)
          segIds(mb) = bd.tree(SegTree, segTreeProbs, 0).toByte
        if (noCoeffSkip) skips(mb) = bd.bool(probSkipFalse) == 1
        val ym = bd.tree(KfYModeTree, KfYModeProb, 0)
        yModes(mb) = ym.toByte
        if (ym == 4) { // B_PRED: 16 submodes with above/left context (§11.5)
          var i = 0
          while (i < 16) {
            val above =
              if (i >= 4) bModes(mb * 16 + i - 4)
              else if (mbY > 0) bModes((mb - mbW) * 16 + i + 12)
              else 0
            val left =
              if ((i & 3) != 0) bModes(mb * 16 + i - 1)
              else if (mbX > 0) bModes((mb - 1) * 16 + i + 3)
              else 0
            bModes(mb * 16 + i) =
              bd.tree(BModeTree, KfBModeProbs, (above * 10 + left) * 9).toByte
            i += 1
          }
        } else {
          java.util.Arrays.fill(bModes, mb * 16, mb * 16 + 16,
            ImpliedBMode(ym).toByte)
        }
        uvModes(mb) = bd.tree(UvModeTree, KfUvModeProb, 0).toByte
        mbX += 1
      }
      mbY += 1
    }

    // ---- §13 token decode + reconstruction, one raster pass ----------------
    val yStride = mbW << 4
    val uvStride = mbW << 3
    val yPlane = new Array[Byte](yStride * (mbH << 4))
    val uPlane = new Array[Byte](uvStride * (mbH << 3))
    val vPlane = new Array[Byte](uvStride * (mbH << 3))
    val aboveNz = new Array[Byte](mbW * 9) // 4 Y, 2 U, 2 V, 1 Y2 per column
    val leftNz = new Array[Byte](9)
    val coeffs = new Array[Int](25 * 16) // 16 Y + 4 U + 4 V + Y2(idx 24)
    val dcBuf = new Array[Int](16)
    val hasCoeffs = new Array[Boolean](25)
    val anyCoeffsMb = new Array[Boolean](nMb) // drives §15.2 interior-edge skip
    val pred = new Array[Int](16)
    val idctTmp = new Array[Int](16)

    /** §13.3 one block's tokens; returns stop position (16, or n at EOB). */
    def decodeBlock(td: BoolDecoder, typ: Int, ctx0: Int, first: Int,
                    qDc: Int, qAc: Int, outOff: Int): Int = {
      var n = first
      var ctx = ctx0
      var any = false
      var cont = true
      while (cont && n < 16) {
        var p = ((typ * 8 + Bands(n)) * 3 + ctx) * 11
        if (td.bool(coeffProbs(p)) == 0) cont = false // EOB
        else {
          // run of ZERO tokens: no EOB is coded after a zero
          var zero = td.bool(coeffProbs(p + 1)) == 0
          while (zero && cont) {
            n += 1
            if (n == 16) cont = false
            else {
              p = ((typ * 8 + Bands(n)) * 3 + 0) * 11
              zero = td.bool(coeffProbs(p + 1)) == 0
            }
          }
          if (cont) {
            var v = 0
            if (td.bool(coeffProbs(p + 2)) == 0) { v = 1; ctx = 1 }
            else {
              ctx = 2
              if (td.bool(coeffProbs(p + 3)) == 0) {
                if (td.bool(coeffProbs(p + 4)) == 0) v = 2
                else v = 3 + td.bool(coeffProbs(p + 5))
              } else {
                // DCT value categories 1-6 with per-category extra bits
                val cat =
                  if (td.bool(coeffProbs(p + 6)) == 0) td.bool(coeffProbs(p + 7))
                  else if (td.bool(coeffProbs(p + 8)) == 0) 2 + td.bool(coeffProbs(p + 9))
                  else 4 + td.bool(coeffProbs(p + 10))
                val probs = CatProbs(cat)
                var extra = 0
                var i = 0
                while (i < probs.length) { extra = (extra << 1) | td.bool(probs(i)); i += 1 }
                v = CatBase(cat) + extra
              }
            }
            if (td.bit() == 1) v = -v
            coeffs(outOff + Zigzag(n)) = v * (if (n == 0) qDc else qAc)
            if (v != 0) any = true
            n += 1
          }
        }
      }
      if (any) hasCoeffs(outOff >> 4) = true
      n
    }

    // §14.3 exact integer inverse DCT, adding into the plane over pred
    def idctAdd(plane: Array[Byte], stride: Int, px: Int, py: Int, cOff: Int): Unit = {
      var i = 0
      while (i < 4) {
        val i0 = coeffs(cOff + i); val i4 = coeffs(cOff + 4 + i)
        val i8 = coeffs(cOff + 8 + i); val i12 = coeffs(cOff + 12 + i)
        val a1 = i0 + i8
        val b1 = i0 - i8
        val c1 = ((i4 * 35468) >> 16) - (i12 + ((i12 * 20091) >> 16))
        val d1 = (i4 + ((i4 * 20091) >> 16)) + ((i12 * 35468) >> 16)
        idctTmp(i) = a1 + d1
        idctTmp(12 + i) = a1 - d1
        idctTmp(4 + i) = b1 + c1
        idctTmp(8 + i) = b1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val i0 = idctTmp(4 * i); val i1 = idctTmp(4 * i + 1)
        val i2 = idctTmp(4 * i + 2); val i3 = idctTmp(4 * i + 3)
        val a1 = i0 + i2
        val b1 = i0 - i2
        val c1 = ((i1 * 35468) >> 16) - (i3 + ((i3 * 20091) >> 16))
        val d1 = (i1 + ((i1 * 20091) >> 16)) + ((i3 * 35468) >> 16)
        val base = (py + i) * stride + px
        plane(base) = clamp255((plane(base) & 0xff) + ((a1 + d1 + 4) >> 3)).toByte
        plane(base + 1) = clamp255((plane(base + 1) & 0xff) + ((b1 + c1 + 4) >> 3)).toByte
        plane(base + 2) = clamp255((plane(base + 2) & 0xff) + ((b1 - c1 + 4) >> 3)).toByte
        plane(base + 3) = clamp255((plane(base + 3) & 0xff) + ((a1 - d1 + 4) >> 3)).toByte
        i += 1
      }
    }

    // §14.4 inverse Walsh-Hadamard for the Y2 block -> 16 Y DC values
    def iwht(cOff: Int): Unit = {
      var i = 0
      while (i < 4) {
        val a1 = coeffs(cOff + i) + coeffs(cOff + 12 + i)
        val b1 = coeffs(cOff + 4 + i) + coeffs(cOff + 8 + i)
        val c1 = coeffs(cOff + 4 + i) - coeffs(cOff + 8 + i)
        val d1 = coeffs(cOff + i) - coeffs(cOff + 12 + i)
        dcBuf(i) = a1 + b1
        dcBuf(4 + i) = c1 + d1
        dcBuf(8 + i) = a1 - b1
        dcBuf(12 + i) = d1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val a1 = dcBuf(4 * i) + dcBuf(4 * i + 3)
        val b1 = dcBuf(4 * i + 1) + dcBuf(4 * i + 2)
        val c1 = dcBuf(4 * i + 1) - dcBuf(4 * i + 2)
        val d1 = dcBuf(4 * i) - dcBuf(4 * i + 3)
        dcBuf(4 * i) = (a1 + b1 + 3) >> 3
        dcBuf(4 * i + 1) = (c1 + d1 + 3) >> 3
        dcBuf(4 * i + 2) = (a1 - b1 + 3) >> 3
        dcBuf(4 * i + 3) = (d1 - c1 + 3) >> 3
        i += 1
      }
    }

    // ---- §12 intra prediction helpers --------------------------------------
    // Frame-edge conventions: row above the frame reads 127 (including the
    // above-left corner), column left of the frame reads 129, and pixels
    // right of the coded width replicate the row's last pixel (the border
    // extension real decoders keep) — so above-right for last-column
    // subblocks matches libwebp exactly.
    def px(plane: Array[Byte], stride: Int, w: Int, x: Int, y: Int): Int =
      if (y < 0) 127
      else if (x < 0) 129
      else if (x >= w) plane(y * stride + w - 1) & 0xff
      else plane(y * stride + x) & 0xff

    @inline def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
    @inline def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

    /** Whole-block DC/V/H/TM for 16x16 luma and 8x8 chroma (§12.2). */
    def predictBlock(plane: Array[Byte], stride: Int, w: Int, mode: Int,
                     bx: Int, by: Int, size: Int, mbX0: Int, mbY0: Int): Unit = {
      mode match {
        case 0 => // DC with availability-dependent rounding
          var sum = 0; var total = 0
          if (mbY0 > 0) { var i = 0; while (i < size) { sum += px(plane, stride, w, bx + i, by - 1); i += 1 }; total += size }
          if (mbX0 > 0) { var i = 0; while (i < size) { sum += px(plane, stride, w, bx - 1, by + i); i += 1 }; total += size }
          val dc = if (total == 0) 128 else (sum + (total >> 1)) / total
          var y0 = 0
          while (y0 < size) {
            java.util.Arrays.fill(plane, (by + y0) * stride + bx,
              (by + y0) * stride + bx + size, dc.toByte)
            y0 += 1
          }
        case 1 => // V
          var y0 = 0
          while (y0 < size) {
            var x0 = 0
            while (x0 < size) {
              plane((by + y0) * stride + bx + x0) =
                px(plane, stride, w, bx + x0, by - 1).toByte
              x0 += 1
            }
            y0 += 1
          }
        case 2 => // H
          var y0 = 0
          while (y0 < size) {
            val l = px(plane, stride, w, bx - 1, by + y0).toByte
            java.util.Arrays.fill(plane, (by + y0) * stride + bx,
              (by + y0) * stride + bx + size, l)
            y0 += 1
          }
        case _ => // TM
          val p = px(plane, stride, w, bx - 1, by - 1)
          var y0 = 0
          while (y0 < size) {
            val l = px(plane, stride, w, bx - 1, by + y0)
            var x0 = 0
            while (x0 < size) {
              plane((by + y0) * stride + bx + x0) =
                clamp255(l + px(plane, stride, w, bx + x0, by - 1) - p).toByte
              x0 += 1
            }
            y0 += 1
          }
      }
    }

    /** §12.3 the ten 4x4 luma submodes, written into pred(16). `arY` is the
      * row the above-right pixels come from: row by-1 for every subblock
      * (right-column subblocks below the MB's top row deliberately read the
      * STALE above-MB row — the spec's quirk). */
    def predict4x4(mode: Int, bx: Int, by: Int, arX: Int, arY: Int): Unit = {
      val P = px(yPlane, yStride, yStride, bx - 1, by - 1)
      val A0 = px(yPlane, yStride, yStride, bx, by - 1)
      val A1 = px(yPlane, yStride, yStride, bx + 1, by - 1)
      val A2 = px(yPlane, yStride, yStride, bx + 2, by - 1)
      val A3 = px(yPlane, yStride, yStride, bx + 3, by - 1)
      val A4 = px(yPlane, yStride, yStride, arX, arY)
      val A5 = px(yPlane, yStride, yStride, arX + 1, arY)
      val A6 = px(yPlane, yStride, yStride, arX + 2, arY)
      val A7 = px(yPlane, yStride, yStride, arX + 3, arY)
      val L0 = px(yPlane, yStride, yStride, bx - 1, by)
      val L1 = px(yPlane, yStride, yStride, bx - 1, by + 1)
      val L2 = px(yPlane, yStride, yStride, bx - 1, by + 2)
      val L3 = px(yPlane, yStride, yStride, bx - 1, by + 3)
      mode match {
        case 0 => // B_DC
          val dc = (A0 + A1 + A2 + A3 + L0 + L1 + L2 + L3 + 4) >> 3
          var i = 0; while (i < 16) { pred(i) = dc; i += 1 }
        case 1 => // B_TM
          val ls = Array(L0, L1, L2, L3); val as = Array(A0, A1, A2, A3)
          var y0 = 0
          while (y0 < 4) { var x0 = 0; while (x0 < 4) { pred(y0 * 4 + x0) = clamp255(ls(y0) + as(x0) - P); x0 += 1 }; y0 += 1 }
        case 2 => // B_VE
          val v0 = avg3(P, A0, A1); val v1 = avg3(A0, A1, A2)
          val v2 = avg3(A1, A2, A3); val v3 = avg3(A2, A3, A4)
          var y0 = 0
          while (y0 < 4) { pred(y0 * 4) = v0; pred(y0 * 4 + 1) = v1; pred(y0 * 4 + 2) = v2; pred(y0 * 4 + 3) = v3; y0 += 1 }
        case 3 => // B_HE
          val h0 = avg3(P, L0, L1); val h1 = avg3(L0, L1, L2)
          val h2 = avg3(L1, L2, L3); val h3 = avg3(L2, L3, L3)
          var x0 = 0
          while (x0 < 4) { pred(x0) = h0; pred(4 + x0) = h1; pred(8 + x0) = h2; pred(12 + x0) = h3; x0 += 1 }
        case 4 => // B_LD
          val a = Array(A0, A1, A2, A3, A4, A5, A6, A7)
          var y0 = 0
          while (y0 < 4) {
            var x0 = 0
            while (x0 < 4) {
              val d = x0 + y0
              pred(y0 * 4 + x0) =
                if (d == 6) avg3(a(6), a(7), a(7)) else avg3(a(d), a(d + 1), a(d + 2))
              x0 += 1
            }
            y0 += 1
          }
        case 5 => // B_RD over the 9-pixel edge E = L3..L0, P, A0..A3
          val e = Array(L3, L2, L1, L0, P, A0, A1, A2, A3)
          var y0 = 0
          while (y0 < 4) {
            var x0 = 0
            while (x0 < 4) { val d = x0 - y0; pred(y0 * 4 + x0) = avg3(e(d + 3), e(d + 4), e(d + 5)); x0 += 1 }
            y0 += 1
          }
        case 6 => // B_VR
          pred(0) = avg2(P, A0); pred(1) = avg2(A0, A1); pred(2) = avg2(A1, A2); pred(3) = avg2(A2, A3)
          pred(4) = avg3(L0, P, A0); pred(5) = avg3(P, A0, A1); pred(6) = avg3(A0, A1, A2); pred(7) = avg3(A1, A2, A3)
          pred(8) = avg3(L1, L0, P); pred(9) = pred(0); pred(10) = pred(1); pred(11) = pred(2)
          pred(12) = avg3(L2, L1, L0); pred(13) = pred(4); pred(14) = pred(5); pred(15) = pred(6)
        case 7 => // B_VL
          pred(0) = avg2(A0, A1); pred(1) = avg2(A1, A2); pred(2) = avg2(A2, A3); pred(3) = avg2(A3, A4)
          pred(4) = avg3(A0, A1, A2); pred(5) = avg3(A1, A2, A3); pred(6) = avg3(A2, A3, A4); pred(7) = avg3(A3, A4, A5)
          pred(8) = pred(1); pred(9) = pred(2); pred(10) = pred(3); pred(11) = avg3(A4, A5, A6)
          pred(12) = pred(5); pred(13) = pred(6); pred(14) = pred(7); pred(15) = avg3(A5, A6, A7)
        case 8 => // B_HD
          pred(0) = avg2(L0, P); pred(1) = avg3(L0, P, A0); pred(2) = avg3(P, A0, A1); pred(3) = avg3(A0, A1, A2)
          pred(4) = avg2(L1, L0); pred(5) = avg3(L1, L0, P); pred(6) = pred(0); pred(7) = pred(1)
          pred(8) = avg2(L2, L1); pred(9) = avg3(L2, L1, L0); pred(10) = pred(4); pred(11) = pred(5)
          pred(12) = avg2(L3, L2); pred(13) = avg3(L3, L2, L1); pred(14) = pred(8); pred(15) = pred(9)
        case _ => // B_HU
          pred(0) = avg2(L0, L1); pred(1) = avg3(L0, L1, L2); pred(2) = avg2(L1, L2); pred(3) = avg3(L1, L2, L3)
          pred(4) = pred(2); pred(5) = pred(3); pred(6) = avg2(L2, L3); pred(7) = avg3(L2, L3, L3)
          pred(8) = pred(6); pred(9) = pred(7); pred(10) = L3; pred(11) = L3
          pred(12) = L3; pred(13) = L3; pred(14) = L3; pred(15) = L3
      }
    }

    // ---- main raster pass ---------------------------------------------------
    mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0.toByte)
      val td = partBd(mbY % nParts)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbY * mbW + mbX
        val seg = segIds(mb)
        val ym = yModes(mb)
        val hasY2 = ym != 4
        java.util.Arrays.fill(coeffs, 0)
        java.util.Arrays.fill(hasCoeffs, false)

        if (skips(mb)) {
          // no tokens: zero the running contexts (Y2 context only when the
          // MB carries a Y2 block — B_PRED MBs leave it untouched, §13.1)
          var i = 0
          while (i < 8) { aboveNz(mbX * 9 + i) = 0; leftNz(i) = 0; i += 1 }
          if (hasY2) { aboveNz(mbX * 9 + 8) = 0; leftNz(8) = 0 }
        } else {
          if (hasY2) {
            val ctx = aboveNz(mbX * 9 + 8) + leftNz(8)
            val stop = decodeBlock(td, 1, ctx, 0, qY2dc(seg), qY2ac(seg), 24 * 16)
            val f: Byte = if (stop > 0) 1 else 0
            aboveNz(mbX * 9 + 8) = f; leftNz(8) = f
          }
          val yTyp = if (hasY2) 0 else 3
          val yFirst = if (hasY2) 1 else 0
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) {
              val ctx = aboveNz(mbX * 9 + c) + leftNz(r)
              val stop = decodeBlock(td, yTyp, ctx, yFirst,
                qY1dc(seg), qY1ac(seg), (r * 4 + c) * 16)
              val f: Byte = if (stop > yFirst) 1 else 0
              aboveNz(mbX * 9 + c) = f; leftNz(r) = f
              c += 1
            }
            r += 1
          }
          var pl = 0
          while (pl < 2) { // 0 = U, 1 = V
            var i = 0
            while (i < 4) {
              val r2 = i >> 1; val c2 = i & 1
              val ctx = aboveNz(mbX * 9 + 4 + pl * 2 + c2) + leftNz(4 + pl * 2 + r2)
              val stop = decodeBlock(td, 2, ctx, 0,
                qUVdc(seg), qUVac(seg), (16 + pl * 4 + i) * 16)
              val f: Byte = if (stop > 0) 1 else 0
              aboveNz(mbX * 9 + 4 + pl * 2 + c2) = f; leftNz(4 + pl * 2 + r2) = f
              i += 1
            }
            pl += 1
          }
        }

        if (hasY2) {
          iwht(24 * 16)
          var b = 0
          var anyDc = false
          while (b < 16) {
            coeffs(b * 16) = dcBuf(b)
            if (dcBuf(b) != 0) { hasCoeffs(b) = true; anyDc = true }
            b += 1
          }
          if (anyDc) hasCoeffs(24) = true
        }
        var any = false
        var b = 0
        while (b < 25) { if (hasCoeffs(b)) any = true; b += 1 }
        anyCoeffsMb(mb) = any

        // ---- reconstruct this MB -------------------------------------------
        val yx = mbX << 4; val yy = mbY << 4
        if (ym == 4) {
          var i = 0
          while (i < 16) {
            val r = i >> 2; val c = i & 3
            val bx = yx + (c << 2); val by = yy + (r << 2)
            // above-right: within the MB read the already-reconstructed
            // up-right subblock; right-column subblocks read the above-MB
            // row (stale for r > 0 — the spec rule); frame edges replicate
            val (arX, arY) = if (c < 3) (bx + 4, by - 1) else (yx + 16, yy - 1)
            predict4x4(bModes(mb * 16 + i), bx, by, arX, arY)
            var y0 = 0
            while (y0 < 4) {
              var x0 = 0
              while (x0 < 4) {
                yPlane((by + y0) * yStride + bx + x0) = pred(y0 * 4 + x0).toByte
                x0 += 1
              }
              y0 += 1
            }
            if (hasCoeffs(i)) idctAdd(yPlane, yStride, bx, by, i * 16)
            i += 1
          }
        } else {
          predictBlock(yPlane, yStride, yStride, ym, yx, yy, 16, mbX, mbY)
          var i = 0
          while (i < 16) {
            if (hasCoeffs(i))
              idctAdd(yPlane, yStride, yx + ((i & 3) << 2), yy + ((i >> 2) << 2), i * 16)
            i += 1
          }
        }
        val cx = mbX << 3; val cy = mbY << 3
        val uvm = uvModes(mb)
        predictBlock(uPlane, uvStride, uvStride, uvm, cx, cy, 8, mbX, mbY)
        predictBlock(vPlane, uvStride, uvStride, uvm, cx, cy, 8, mbX, mbY)
        var i = 0
        while (i < 4) {
          if (hasCoeffs(16 + i))
            idctAdd(uPlane, uvStride, cx + ((i & 1) << 2), cy + ((i >> 1) << 2), (16 + i) * 16)
          if (hasCoeffs(20 + i))
            idctAdd(vPlane, uvStride, cx + ((i & 1) << 2), cy + ((i >> 1) << 2), (20 + i) * 16)
          i += 1
        }
        mbX += 1
      }
      mbY += 1
    }

    // ---- §15 loop filter ----------------------------------------------------
    if (filterLevel > 0)
      loopFilter(yPlane, uPlane, vPlane, yStride, uvStride, mbW, mbH,
        simpleFilter, filterLevel, sharpness, segEnabled, segAbs, segLf,
        lfDeltaEnabled, refLfDelta, modeLfDelta, segIds, yModes, anyCoeffsMb)

    // ---- crop to visible size ------------------------------------------------
    val uvW = (width + 1) >> 1
    val uvH = (height + 1) >> 1
    val yOut = new Array[Byte](width * height)
    val uOut = new Array[Byte](uvW * uvH)
    val vOut = new Array[Byte](uvW * uvH)
    var row = 0
    while (row < height) { System.arraycopy(yPlane, row * yStride, yOut, row * width, width); row += 1 }
    row = 0
    while (row < uvH) {
      System.arraycopy(uPlane, row * uvStride, uOut, row * uvW, uvW)
      System.arraycopy(vPlane, row * uvStride, vOut, row * uvW, uvW)
      row += 1
    }
    Frame(width, height, yOut, uOut, vOut)
  }

  // ---- §15 deblocking --------------------------------------------------------
  private def loopFilter(yP: Array[Byte], uP: Array[Byte], vP: Array[Byte],
                         yStride: Int, uvStride: Int, mbW: Int, mbH: Int,
                         simple: Boolean, baseLevel: Int, sharpness: Int,
                         segEnabled: Boolean, segAbs: Boolean, segLf: Array[Int],
                         lfDelta: Boolean, refLfDelta: Array[Int], modeLfDelta: Array[Int],
                         segIds: Array[Byte], yModes: Array[Byte],
                         anyCoeffsMb: Array[Boolean]): Unit = {
    @inline def u2s(v: Int): Int = v - 128
    @inline def s2u(v: Int): Int = clamp255(v + 128)
    @inline def c7(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

    /** §15.2 common adjustment; returns the filter value F. The eight taps
      * are passed as plane offsets so one body serves rows and columns. */
    def commonAdjust(p: Array[Byte], outer: Boolean, i1: Int, i0: Int, j0: Int, j1: Int): Int = {
      val pp1 = u2s(p(i1) & 0xff); val pp0 = u2s(p(i0) & 0xff)
      val qq0 = u2s(p(j0) & 0xff); val qq1 = u2s(p(j1) & 0xff)
      var a = c7((if (outer) c7(pp1 - qq1) else 0) + 3 * (qq0 - pp0))
      val f = c7(a + 4) >> 3
      a = c7(a + 3) >> 3
      p(j0) = s2u(qq0 - f).toByte
      p(i0) = s2u(pp0 + a).toByte
      f
    }

    def filterYes(p: Array[Byte], ilim: Int, elim: Int,
                  i3: Int, i2: Int, i1: Int, i0: Int, j0: Int, j1: Int, j2: Int, j3: Int): Boolean = {
      @inline def d(a: Int, b: Int) = math.abs((p(a) & 0xff) - (p(b) & 0xff))
      d(i0, j0) * 2 + d(i1, j1) / 2 <= elim &&
        d(i3, i2) <= ilim && d(i2, i1) <= ilim && d(i1, i0) <= ilim &&
        d(j1, j0) <= ilim && d(j2, j1) <= ilim && d(j3, j2) <= ilim
    }

    def hev(p: Array[Byte], thresh: Int, i1: Int, i0: Int, j0: Int, j1: Int): Boolean = {
      @inline def d(a: Int, b: Int) = math.abs((p(a) & 0xff) - (p(b) & 0xff))
      d(i1, i0) > thresh || d(j1, j0) > thresh
    }

    def subblockFilter(p: Array[Byte], hevT: Int, ilim: Int, elim: Int, at: Int, step: Int): Unit = {
      val i3 = at - 4 * step; val i2 = at - 3 * step; val i1 = at - 2 * step; val i0 = at - step
      val j0 = at; val j1 = at + step; val j2 = at + 2 * step; val j3 = at + 3 * step
      if (filterYes(p, ilim, elim, i3, i2, i1, i0, j0, j1, j2, j3)) {
        val hv = hev(p, hevT, i1, i0, j0, j1)
        val f = commonAdjust(p, hv, i1, i0, j0, j1)
        if (!hv) {
          val a = (f + 1) >> 1
          p(j1) = s2u(u2s(p(j1) & 0xff) - a).toByte
          p(i1) = s2u(u2s(p(i1) & 0xff) + a).toByte
        }
      }
    }

    def mbFilter(p: Array[Byte], hevT: Int, ilim: Int, elim: Int, at: Int, step: Int): Unit = {
      val i3 = at - 4 * step; val i2 = at - 3 * step; val i1 = at - 2 * step; val i0 = at - step
      val j0 = at; val j1 = at + step; val j2 = at + 2 * step; val j3 = at + 3 * step
      if (filterYes(p, ilim, elim, i3, i2, i1, i0, j0, j1, j2, j3)) {
        if (!hev(p, hevT, i1, i0, j0, j1)) {
          val pp2 = u2s(p(i2) & 0xff); val pp1 = u2s(p(i1) & 0xff); val pp0 = u2s(p(i0) & 0xff)
          val qq0 = u2s(p(j0) & 0xff); val qq1 = u2s(p(j1) & 0xff); val qq2 = u2s(p(j2) & 0xff)
          val w = c7(c7(pp1 - qq1) + 3 * (qq0 - pp0))
          var a = c7((27 * w + 63) >> 7)
          p(j0) = s2u(qq0 - a).toByte
          p(i0) = s2u(pp0 + a).toByte
          a = c7((18 * w + 63) >> 7)
          p(j1) = s2u(qq1 - a).toByte
          p(i1) = s2u(pp1 + a).toByte
          a = c7((9 * w + 63) >> 7)
          p(j2) = s2u(qq2 - a).toByte
          p(i2) = s2u(pp2 + a).toByte
        } else commonAdjust(p, outer = true, i1, i0, j0, j1)
      }
    }

    def simpleSegment(p: Array[Byte], elim: Int, at: Int, step: Int): Unit = {
      val i1 = at - 2 * step; val i0 = at - step; val j0 = at; val j1 = at + step
      @inline def d(a: Int, b: Int) = math.abs((p(a) & 0xff) - (p(b) & 0xff))
      if (d(i0, j0) * 2 + d(i1, j1) / 2 <= elim)
        commonAdjust(p, outer = true, i1, i0, j0, j1)
    }

    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbY * mbW + mbX
        val seg = segIds(mb)
        var lvl =
          if (segEnabled) { if (segAbs) segLf(seg) else baseLevel + segLf(seg) }
          else baseLevel
        lvl = clamp(lvl, 0, 63)
        if (lfDelta) {
          lvl += refLfDelta(0) // all key-frame MBs predict from INTRA_FRAME
          if (yModes(mb) == 4) lvl += modeLfDelta(0) // B_PRED mode delta
          lvl = clamp(lvl, 0, 63)
        }
        if (lvl > 0) {
          var ilim = lvl
          if (sharpness > 0) {
            ilim >>= (if (sharpness > 4) 2 else 1)
            if (ilim > 9 - sharpness) ilim = 9 - sharpness
          }
          if (ilim < 1) ilim = 1
          val hevT = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
          val mbLim = (lvl + 2) * 2 + ilim
          val subLim = lvl * 2 + ilim
          val interior = anyCoeffsMb(mb) || yModes(mb) == 4
          val yx = mbX << 4; val yy = mbY << 4
          val cx = mbX << 3; val cy = mbY << 3

          if (simple) {
            // simple filter touches luma only (§15.4)
            if (mbX > 0) { var r = 0; while (r < 16) { simpleSegment(yP, mbLim, (yy + r) * yStride + yx, 1); r += 1 } }
            if (interior) {
              var e = 4
              while (e < 16) { var r = 0; while (r < 16) { simpleSegment(yP, subLim, (yy + r) * yStride + yx + e, 1); r += 1 }; e += 4 }
            }
            if (mbY > 0) { var c = 0; while (c < 16) { simpleSegment(yP, mbLim, yy * yStride + yx + c, yStride); c += 1 } }
            if (interior) {
              var e = 4
              while (e < 16) { var c = 0; while (c < 16) { simpleSegment(yP, subLim, (yy + e) * yStride + yx + c, yStride); c += 1 }; e += 4 }
            }
          } else {
            if (mbX > 0) {
              var r = 0
              while (r < 16) { mbFilter(yP, hevT, ilim, mbLim, (yy + r) * yStride + yx, 1); r += 1 }
              r = 0
              while (r < 8) {
                mbFilter(uP, hevT, ilim, mbLim, (cy + r) * uvStride + cx, 1)
                mbFilter(vP, hevT, ilim, mbLim, (cy + r) * uvStride + cx, 1)
                r += 1
              }
            }
            if (interior) {
              var e = 4
              while (e < 16) {
                var r = 0
                while (r < 16) { subblockFilter(yP, hevT, ilim, subLim, (yy + r) * yStride + yx + e, 1); r += 1 }
                e += 4
              }
              var r = 0
              while (r < 8) {
                subblockFilter(uP, hevT, ilim, subLim, (cy + r) * uvStride + cx + 4, 1)
                subblockFilter(vP, hevT, ilim, subLim, (cy + r) * uvStride + cx + 4, 1)
                r += 1
              }
            }
            if (mbY > 0) {
              var c = 0
              while (c < 16) { mbFilter(yP, hevT, ilim, mbLim, yy * yStride + yx + c, yStride); c += 1 }
              c = 0
              while (c < 8) {
                mbFilter(uP, hevT, ilim, mbLim, cy * uvStride + cx + c, uvStride)
                mbFilter(vP, hevT, ilim, mbLim, cy * uvStride + cx + c, uvStride)
                c += 1
              }
            }
            if (interior) {
              var e = 4
              while (e < 16) {
                var c = 0
                while (c < 16) { subblockFilter(yP, hevT, ilim, subLim, (yy + e) * yStride + yx + c, yStride); c += 1 }
                e += 4
              }
              var c = 0
              while (c < 8) {
                subblockFilter(uP, hevT, ilim, subLim, (cy + 4) * uvStride + cx + c, uvStride)
                subblockFilter(vP, hevT, ilim, subLim, (cy + 4) * uvStride + cx + c, uvStride)
                c += 1
              }
            }
          }
        }
        mbX += 1
      }
      mbY += 1
    }
  }

  // ---- libwebp's fancy upsampler + fixed-point BT.601 YUV->RGB --------------
  // Validated bit-exact against WebPDecodeRGBA in gen_vp8_fixtures.py; the
  // constants are 14-bit fixed-point BT.601 with a 6-bit output fix.
  @inline private def clip8(v: Int): Int =
    if ((v & ~((256 << 6) - 1)) == 0) v >> 6 else if (v < 0) 0 else 255

  /** Convert a decoded frame to interleaved RGB. Writes the RGB triples
    * into `out` (may be null) at `ch` bytes per pixel — 4 leaves the alpha
    * byte untouched for the ALPH overlay — and returns the r+g+b pixel
    * sum, the same contract as the VP8L path in [[WebpCodec.decode]]. */
  def toRgb(f: Frame, out: Array[Byte], ch: Int = 3): Long = {
    val w = f.width; val h = f.height
    val uvw = (w + 1) >> 1
    var sum = 0L
    @inline def emit(px: Int, yv: Int, uv: Int, vv: Int): Unit = {
      val ys = (yv * 19077) >> 8
      val r = clip8(ys + ((vv * 26149) >> 8) - 14234)
      val g = clip8(ys - ((uv * 6419) >> 8) - ((vv * 13320) >> 8) + 8708)
      val b = clip8(ys + ((uv * 33050) >> 8) - 17685)
      sum += r + g + b
      if (out != null) {
        out(px * ch) = r.toByte; out(px * ch + 1) = g.toByte; out(px * ch + 2) = b.toByte
      }
    }
    /** One UPSAMPLE_FUNC call: top/bottom luma rows against two chroma rows
      * with the (9,3,3,1)/16 diagonal interpolation. botY < 0 = absent. */
    def pair(topY: Int, botY: Int, topUV: Int, curUV: Int): Unit = {
      @inline def load(rowOff: Int, i: Int): Int =
        (f.u(rowOff + i) & 0xff) | ((f.v(rowOff + i) & 0xff) << 16)
      var tl = load(topUV, 0)
      var l = load(curUV, 0)
      var uv0 = (3 * tl + l + 0x00020002) >> 2
      emit(topY * w, f.y(topY * w) & 0xff, uv0 & 0xff, (uv0 >> 16) & 0xff)
      if (botY >= 0) {
        uv0 = (3 * l + tl + 0x00020002) >> 2
        emit(botY * w, f.y(botY * w) & 0xff, uv0 & 0xff, (uv0 >> 16) & 0xff)
      }
      var x = 1
      val lastPair = (w - 1) >> 1
      while (x <= lastPair) {
        val t = load(topUV, x)
        val uv = load(curUV, x)
        val avg = tl + t + l + uv + 0x00080008
        val diag12 = (avg + 2 * (t + l)) >> 3
        val diag03 = (avg + 2 * (tl + uv)) >> 3
        var v0 = (diag12 + tl) >> 1
        var v1 = (diag03 + t) >> 1
        emit(topY * w + 2 * x - 1, f.y(topY * w + 2 * x - 1) & 0xff, v0 & 0xff, (v0 >> 16) & 0xff)
        emit(topY * w + 2 * x, f.y(topY * w + 2 * x) & 0xff, v1 & 0xff, (v1 >> 16) & 0xff)
        if (botY >= 0) {
          v0 = (diag03 + l) >> 1
          v1 = (diag12 + uv) >> 1
          emit(botY * w + 2 * x - 1, f.y(botY * w + 2 * x - 1) & 0xff, v0 & 0xff, (v0 >> 16) & 0xff)
          emit(botY * w + 2 * x, f.y(botY * w + 2 * x) & 0xff, v1 & 0xff, (v1 >> 16) & 0xff)
        }
        tl = t; l = uv
        x += 1
      }
      if ((w & 1) == 0) {
        uv0 = (3 * tl + l + 0x00020002) >> 2
        emit(topY * w + w - 1, f.y(topY * w + w - 1) & 0xff, uv0 & 0xff, (uv0 >> 16) & 0xff)
        if (botY >= 0) {
          uv0 = (3 * l + tl + 0x00020002) >> 2
          emit(botY * w + w - 1, f.y(botY * w + w - 1) & 0xff, uv0 & 0xff, (uv0 >> 16) & 0xff)
        }
      }
    }
    // row 0 alone with mirrored chroma; then pairs (1,2),(3,4),... sharing
    // chroma rows (r, r+1); then the last row alone when h is even
    pair(0, -1, 0, 0)
    var y = 1
    var cr = 0
    while (y + 1 < h) {
      pair(y, y + 1, cr * uvw, (cr + 1) * uvw)
      y += 2
      cr += 1
    }
    if (y < h) pair(y, -1, cr * uvw, cr * uvw)
    sum
  }
}
