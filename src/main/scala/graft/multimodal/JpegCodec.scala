package graft.multimodal

import graft.util.ByteCursor

/** Baseline-sequential JPEG (ITU T.81) decoder, pure JVM — the third
  * compressed image codec with a real decoder and again a different
  * decompression stack than PNG (DEFLATE) or GIF (LZW): canonical Huffman
  * tables built from the transmitted DHT segments, an MSB-first bit reader
  * with 0xFF00 byte-unstuffing, zigzag run-length AC decoding (EOB/ZRL,
  * one's-complement negative extends), dequantization against the
  * transmitted DQT, and a full 64-coefficient 2D IDCT. The reference
  * decodes JPEG via Pillow (/root/reference/src/converters/
  * image_converters.py:75-145); mode "L" mirrors Pillow's name for 8-bit
  * grayscale.
  *
  * Supported: SOF0/SOF1/SOF2, 8-bit, grayscale or 3-component YCbCr in
  * 4:4:4 or 4:2:0 interleaved scans (per-component quant tables, sampling
  * factors, and DC predictors; JFIF color transform + replication chroma
  * upsampling on decode), restart intervals (DRI + RST0-7 with
  * per-interval predictor reset and marker-sequence checking), and
  * PROGRESSIVE streams (T.81 annex G): multi-scan decode with spectral
  * selection (Ss..Se bands, non-interleaved AC scans over per-component
  * block grids), successive approximation (DC/AC first scans at reduced
  * precision Al, refinement scans Ah=Al+1 with correction bits), and
  * EOB-run coding. Other sampling layouts, arithmetic coding, and
  * hierarchical frames are explicit errors — never silent wrong pixels.
  */
object JpegCodec {

  /** zigzag index -> natural (row-major) index */
  val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // ---- canonical Huffman (T.81 annex C) ------------------------------------

  /** Decode table: per code length 1..16, the smallest/largest code of that
    * length and the index of its first symbol in `vals`. */
  final class HuffTable(counts: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) == 0) -1 else code - 1
        code <<= 1
        l += 1
      }
      require(k == vals.length, s"DHT counts ($k) disagree with value list (${vals.length})")
    }
  }

  /** Entropy-segment bit packer shared by the production encoder and the
    * fixture writers: MSB-first, 0xFF00 byte stuffing, 1-padded flush at
    * marker boundaries — the exact dual of the decoder's BitReader. */
  private[graft] final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >>> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def putSymbol(codes: Map[Int, (Int, Int)], sym: Int): Unit = {
      val (code, len) = codes(sym)
      putBits(code, len)
    }
    /** One's-complement magnitude bits (T.81 F.1.2.2.1). */
    def putMagnitude(v: Int, cat: Int): Unit =
      if (cat > 0) putBits(if (v < 0) v + (1 << cat) - 1 else v, cat)
    /** Pad to the byte boundary with 1s (before a marker). */
    def flush(): Unit = if (cnt > 0) {
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      out.write(buf & 0xff)
      if ((buf & 0xff) == 0xff) out.write(0x00)
      buf = 0; cnt = 0
    }
  }

  /** Magnitude category (bit length) of a DC diff / AC value. */
  private[graft] def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Baseline-encode one quantized block (natural-order coefficients):
    * DC diff vs `pred`, then zigzag AC run-length with ZRL/EOB. Returns
    * the new DC predictor. THE entropy layer, shared by the production
    * encoder ([[JpegEncoder]]) and the fixture writer
    * ([[graft.fixtures.JpegWriter]]) so its conventions live in exactly
    * one place. */
  private[graft] def writeBaselineBlock(bits: BitWriter, coef: Array[Int],
                                        pred: Int, dcCodes: Map[Int, (Int, Int)],
                                        acCodes: Map[Int, (Int, Int)]): Int = {
    val diff = coef(0) - pred
    val cat = category(diff)
    require(cat <= 11, s"DC diff $diff out of baseline range")
    bits.putSymbol(dcCodes, cat)
    bits.putMagnitude(diff, cat)
    var lastNonZero = 0
    var k = 63
    while (k >= 1 && lastNonZero == 0) {
      if (coef(ZigZag(k)) != 0) lastNonZero = k
      k -= 1
    }
    var run = 0
    var z = 1
    while (z <= lastNonZero) {
      val v = coef(ZigZag(z))
      if (v == 0) run += 1
      else {
        while (run >= 16) { bits.putSymbol(acCodes, 0xf0); run -= 16 } // ZRL
        val c = category(v)
        require(c >= 1 && c <= 10, s"AC magnitude $v out of baseline range")
        bits.putSymbol(acCodes, (run << 4) | c)
        bits.putMagnitude(v, c)
        run = 0
      }
      z += 1
    }
    if (lastNonZero < 63) bits.putSymbol(acCodes, 0x00) // EOB
    coef(0)
  }

  /** Encode side (fixtures/tests): symbol -> (code, bit length), assigned in
    * canonical order — byte-identical to what `HuffTable` decodes. */
  def encodeTable(counts: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    val out = Map.newBuilder[Int, (Int, Int)]
    var code = 0
    var i = 0
    for (l <- 1 to 16) {
      var c = 0
      while (c < counts(l - 1)) { out += vals(i) -> (code, l); code += 1; i += 1; c += 1 }
      code <<= 1
    }
    out.result()
  }

  /** Standard luminance tables (T.81 annex K.3 — the tables every baseline
    * encoder ships). Fixtures transmit these in DHT; the decoder only ever
    * uses what DHT carries. */
  val StdDcCounts: Array[Int] = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  val StdDcVals: Array[Int] = (0 to 11).toArray
  val StdAcCounts: Array[Int] = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  val StdAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  // ---- entropy-coded-segment bit reader ------------------------------------

  /** MSB-first reader over the entropy stream with 0xFF00 unstuffing; a
    * 0xFF followed by anything but 0x00 mid-bits is a marker and an error —
    * restart markers are consumed only at interval boundaries via
    * [[restart]]. */
  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    def readBit(): Int = {
      if (cnt == 0) {
        require(pos < bytes.length, "JPEG entropy stream exhausted")
        val b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < bytes.length && bytes(pos) == 0,
            "unexpected marker inside entropy-coded segment")
          pos += 1 // stuffed 0x00
        }
        buf = b
        cnt = 8
      }
      cnt -= 1
      (buf >>> cnt) & 1
    }
    /** Consume the RSTn marker at an interval boundary (T.81 B.2.1.2):
      * discard fill bits to the byte boundary, skip stuffed-fill (FF00) and
      * fill-0xFF bytes, then require RST(expected mod 8) in sequence. */
    def restart(expected: Int): Unit = {
      cnt = 0
      var found = false
      while (!found) {
        require(pos + 2 <= bytes.length, "JPEG truncated at restart marker")
        val b0 = bytes(pos) & 0xff
        val b1 = bytes(pos + 1) & 0xff
        require(b0 == 0xff, f"expected restart marker, got data byte 0x$b0%02x")
        if (b1 == 0x00) pos += 2      // stuffed fill byte of the closed interval
        else if (b1 == 0xff) pos += 1 // 0xFF fill before the marker
        else {
          require(b1 == 0xd0 + expected,
            f"restart marker out of sequence: got 0x$b1%02x, want 0x${0xd0 + expected}%02x")
          pos += 2
          found = true
        }
      }
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decode(t: HuffTable): Int = {
      var code = readBit()
      var l = 1
      while (code > t.maxCode(l) || t.maxCode(l) < 0) {
        l += 1
        require(l <= 16, "invalid Huffman code in entropy stream")
        code = (code << 1) | readBit()
      }
      t.vals(t.valPtr(l) + code - t.minCode(l))
    }
  }

  /** T.81 F.2.2.1 EXTEND: `v` read as `size` magnitude bits. */
  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  // ---- parsed stream -------------------------------------------------------

  /** `blocks` are QUANTIZED coefficients in natural order, in T.81
    * interleaved scan order: per MCU, each component contributes its
    * `hSamp(c) * vSamp(c)` blocks (raster within the MCU) — one block per
    * component for 4:4:4/grayscale, `[Y0 Y1 Y2 Y3 Cb Cr]` for 4:2:0.
    * `quants`/`hSamp`/`vSamp` are indexed by component; `compOfBlock` maps
    * a block's position within its MCU to its component. */
  final case class JpegParsed(width: Int, height: Int, comps: Int,
                              quants: Array[Array[Int]],
                              hSamp: Array[Int], vSamp: Array[Int],
                              compOfBlock: Array[Int],
                              blocks: Array[Array[Int]]) {
    def quant: Array[Int] = quants(0)
  }

  /** Segment length field, validated against the payload: every marker
    * segment must carry its 2-byte length and fit inside the byte array —
    * truncated streams fail with a named error, not AIOOBE. */
  private def segLen(in: ByteCursor, i: Int): Int = {
    require(i + 2 <= in.length, "JPEG truncated in segment header")
    val len = in.u16be(i)
    require(len >= 2 && i + len <= in.length, "JPEG segment overruns payload")
    len
  }

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  // ---- marker segments shared by the baseline and progressive walks --------

  private final case class SofInfo(width: Int, height: Int, nComps: Int,
                                   compIds: Array[Int], compQuant: Array[Int],
                                   hSamp: Array[Int], vSamp: Array[Int])

  /** SOF0/1/2 body: 8-bit precision, geometry, component list, the
    * 4:4:4/gray-or-4:2:0 sampling restriction, and the decompression-bomb
    * guard — one source of truth for both frame types. */
  private def readSof(in: ByteCursor, i: Int, len: Int): SofInfo = {
    require(len >= 8, "SOF segment truncated")
    require(in.u8(i + 2) == 8, "only 8-bit precision supported")
    val height = in.u16be(i + 3)
    val width = in.u16be(i + 5)
    val nf = in.u8(i + 7)
    require(nf == 1 || nf == 3,
      s"only grayscale or 3-component (YCbCr) JPEG supported, got $nf")
    require(len >= 8 + 3 * nf, "SOF component list truncated")
    val compIds = new Array[Int](nf)
    val compQuant = new Array[Int](nf)
    val hSamp = new Array[Int](nf)
    val vSamp = new Array[Int](nf)
    var c = 0
    while (c < nf) {
      compIds(c) = in.u8(i + 8 + 3 * c)
      val sampling = in.u8(i + 9 + 3 * c)
      hSamp(c) = sampling >>> 4
      vSamp(c) = sampling & 0xf
      compQuant(c) = in.u8(i + 10 + 3 * c)
      require(compQuant(c) <= 3, s"SOF quant table id ${compQuant(c)} out of range")
      c += 1
    }
    val all11 = (0 until nf).forall(c2 => hSamp(c2) == 1 && vSamp(c2) == 1)
    val is420 = nf == 3 && hSamp(0) == 2 && vSamp(0) == 2 &&
      hSamp(1) == 1 && vSamp(1) == 1 && hSamp(2) == 1 && vSamp(2) == 1
    require(all11 || is420,
      s"sampling ${hSamp.zip(vSamp).mkString(",")} unsupported (4:4:4/gray or 4:2:0 only)")
    require(width > 0 && height > 0, "SOF declares empty geometry")
    require(width.toLong * height <= (1L << 26), // decompression-bomb guard
      s"JPEG decode size ${width}x$height exceeds 64 MiB cap")
    SofInfo(width, height, nf, compIds, compQuant, hSamp, vSamp)
  }

  /** DHT segment: one or more canonical tables into the dc/ac slots. */
  private def readDht(bytes: Array[Byte], i: Int, len: Int,
                      dcTables: Array[HuffTable], acTables: Array[HuffTable]): Unit = {
    var p = i + 2
    while (p < i + len) {
      require(p + 17 <= i + len, "DHT table header overruns segment")
      val tcTh = bytes(p) & 0xff
      require((tcTh & 0xf) <= 3, s"DHT table id ${tcTh & 0xf} out of range")
      val counts = Array.tabulate(16)(k => bytes(p + 1 + k) & 0xff)
      val n = counts.sum
      require(p + 17 + n <= i + len, "DHT value list overruns segment")
      val vals = Array.tabulate(n)(k => bytes(p + 17 + k) & 0xff)
      val t = new HuffTable(counts, vals)
      if ((tcTh >>> 4) == 0) dcTables(tcTh & 0xf) = t else acTables(tcTh & 0xf) = t
      p += 17 + n
    }
  }

  /** DQT segment: 8-bit tables, entries transmitted in zigzag order. */
  private def readDqt(bytes: Array[Byte], i: Int, len: Int,
                      quantTables: Array[Array[Int]]): Unit = {
    var p = i + 2
    while (p < i + len) {
      require(p + 65 <= i + len, "DQT table overruns segment")
      val pqTq = bytes(p) & 0xff
      require((pqTq >>> 4) == 0, "16-bit quant tables unsupported")
      require((pqTq & 0xf) <= 3, s"DQT table id ${pqTq & 0xf} out of range")
      val q = new Array[Int](64)
      var k = 0
      while (k < 64) { q(ZigZag(k)) = bytes(p + 1 + k) & 0xff; k += 1 }
      quantTables(pqTq & 0xf) = q
      p += 65
    }
  }

  /** Segment walk + entropy decode to QUANTIZED coefficient blocks in MCU
    * (row-major block) order — separated from reconstruction so the entropy
    * layer is testable coefficient-exactly, with no IDCT in the loop. */
  def parse(bytes: Array[Byte]): JpegParsed = {
    require(isJpeg(bytes), "not a JPEG payload")
    val in = ByteCursor(bytes)
    var i = 2
    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var width = 0
    var height = 0
    var nComps = 0
    var compIds: Array[Int] = null
    var compQuant: Array[Int] = null
    var hSamp: Array[Int] = null
    var vSamp: Array[Int] = null
    var sosDc: Array[Int] = null
    var sosAc: Array[Int] = null
    var restartInterval = 0
    var scanAt = -1
    while (scanAt < 0) {
      require(i + 2 <= bytes.length, "JPEG truncated before SOS")
      require((bytes(i) & 0xff) == 0xff, f"expected marker at $i, got 0x${bytes(i) & 0xff}%02x")
      var m = bytes(i + 1) & 0xff
      i += 2
      while (m == 0xff) { // fill bytes
        require(i < bytes.length, "JPEG truncated in marker fill bytes")
        m = bytes(i) & 0xff
        i += 1
      }
      m match {
        case 0xd8 => // SOI again (tolerated)
        case 0xd9 => throw new IllegalArgumentException("EOI before any scan")
        case 0xc0 | 0xc1 => // baseline / extended-sequential SOF
          val len = segLen(in, i)
          val sof = readSof(in, i, len)
          width = sof.width
          height = sof.height
          nComps = sof.nComps
          compIds = sof.compIds
          compQuant = sof.compQuant
          hSamp = sof.hSamp
          vSamp = sof.vSamp
          i += len
        case 0xc2 => return parseProgressive(bytes)
        case 0xc4 => // DHT: one or more tables
          val len = segLen(in, i)
          readDht(bytes, i, len, dcTables, acTables)
          i += len
        case 0xdb => // DQT: entries arrive in zigzag order
          val len = segLen(in, i)
          readDqt(bytes, i, len, quantTables)
          i += len
        case 0xdd => // DRI: MCUs between restart markers (0 disables)
          val len = segLen(in, i)
          require(len >= 4, "DRI segment truncated")
          restartInterval = in.u16be(i + 2)
          i += len
        case 0xda => // SOS: interleaved scan over all SOF components, in order
          val len = segLen(in, i)
          require(len >= 3, "SOS segment truncated")
          val ns = bytes(i + 2) & 0xff
          require(nComps > 0, "SOS before SOF")
          require(ns == nComps, s"SOS carries $ns of $nComps components (non-interleaved scans unsupported)")
          require(len >= 6 + 2 * ns, "SOS component list truncated")
          sosDc = new Array[Int](ns)
          sosAc = new Array[Int](ns)
          var c = 0
          while (c < ns) {
            require((bytes(i + 3 + 2 * c) & 0xff) == compIds(c),
              "SOS component order must match SOF")
            val tdTa = bytes(i + 4 + 2 * c) & 0xff
            sosDc(c) = tdTa >>> 4
            sosAc(c) = tdTa & 0xf
            require(sosDc(c) <= 3 && sosAc(c) <= 3,
              s"SOS Huffman table ids ${sosDc(c)}/${sosAc(c)} out of range")
            c += 1
          }
          scanAt = i + len
          i += len
        case x if x >= 0xe0 && x <= 0xef => i += segLen(in, i) // APPn
        case 0xfe => i += segLen(in, i) // COM
        case o => throw new IllegalArgumentException(f"unsupported JPEG marker 0xff$o%02x")
      }
    }
    require(width > 0 && height > 0, "JPEG has no SOF before SOS")
    // (geometry and the decompression-bomb cap were validated in readSof)
    val quants = Array.tabulate(nComps) { c =>
      val q = quantTables(compQuant(c))
      require(q != null, s"SOF references missing quant table ${compQuant(c)}")
      q
    }
    val dcTs = Array.tabulate(nComps) { c =>
      val t = dcTables(sosDc(c)); require(t != null, "SOS references missing DC table"); t
    }
    val acTs = Array.tabulate(nComps) { c =>
      val t = acTables(sosAc(c)); require(t != null, "SOS references missing AC table"); t
    }

    val maxH = hSamp.max
    val maxV = vSamp.max
    val mcuCols = (width + 8 * maxH - 1) / (8 * maxH)
    val mcuRows = (height + 8 * maxV - 1) / (8 * maxV)
    // component of the j-th block within an MCU: e.g. [0] gray, [0,1,2]
    // 4:4:4, [0,0,0,0,1,2] 4:2:0
    val compOfBlock = (0 until nComps)
      .flatMap(c => Seq.fill(hSamp(c) * vSamp(c))(c)).toArray
    val blocksPerMcu = compOfBlock.length
    val blocks = new Array[Array[Int]](mcuCols * mcuRows * blocksPerMcu)
    val r = new BitReader(bytes, scanAt)
    val pred = new Array[Int](nComps) // per-component DC predictor
    var b = 0
    while (b < blocks.length) {
      val c = compOfBlock(b % blocksPerMcu)
      if (restartInterval > 0 && b % blocksPerMcu == 0) {
        val mcuIdx = b / blocksPerMcu
        if (mcuIdx > 0 && mcuIdx % restartInterval == 0) {
          r.restart((mcuIdx / restartInterval - 1) % 8)
          java.util.Arrays.fill(pred, 0) // predictors reset per interval
        }
      }
      val coef = new Array[Int](64)
      val t = r.decode(dcTs(c))
      require(t <= 11, s"DC category $t out of range")
      pred(c) += extend(r.readBits(t), t)
      coef(0) = pred(c)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = r.decode(acTs(c))
        val run = rs >>> 4
        val size = rs & 0xf
        if (size == 0) {
          if (rs == 0xf0) { // ZRL: sixteen zeros
            k += 16
            require(k <= 64, "ZRL past end of block")
          } else {
            // T.81 defines only 0x00 (EOB) and 0xF0 (ZRL) among size-0
            // symbols; anything else is a corrupt stream, not an EOB
            require(rs == 0x00, f"invalid AC symbol 0x$rs%02x in entropy stream")
            eob = true
          }
        } else {
          k += run
          require(k < 64, "AC run past end of block")
          coef(ZigZag(k)) = extend(r.readBits(size), size)
          k += 1
        }
      }
      blocks(b) = coef
      b += 1
    }
    JpegParsed(width, height, nComps, quants, hSamp, vSamp, compOfBlock, blocks)
  }

  /** Progressive JPEG (SOF2, T.81 annex G): walks EVERY scan to EOI,
    * accumulating quantized coefficients in per-component block grids.
    * DC scans may be interleaved (all components, MCU order, padding
    * blocks included) or single-component; AC scans are single-component
    * by spec and walk the component's unpadded block raster. First scans
    * (Ah=0) decode values at reduced precision (stored `<< Al`); refinement
    * scans (Ah=Al+1) add one correction bit per already-nonzero coefficient
    * and insert newly-visible `±2^Al` coefficients, with EOB-run coding
    * across blocks (the libjpeg `decode_mcu_AC_refine` contract). The
    * result is the same [[JpegParsed]] interleaved-MCU block layout the
    * baseline path produces, so reconstruction is shared. */
  private def parseProgressive(bytes: Array[Byte]): JpegParsed = {
    val in = ByteCursor(bytes)
    var i = 2
    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var width = 0
    var height = 0
    var nComps = 0
    var compIds: Array[Int] = null
    var compQuant: Array[Int] = null
    var hSamp: Array[Int] = null
    var vSamp: Array[Int] = null
    var restartInterval = 0
    var maxH = 1
    var maxV = 1
    var mcuCols = 0
    var mcuRows = 0
    var grids: Array[Array[Array[Int]]] = null // per comp, gridW*gridH blocks
    var gridW: Array[Int] = null
    var scans = 0

    /** One SOS: header + entropy data; returns the offset of the next
      * marker's 0xFF. */
    def decodeScan(at: Int): Int = {
      val len = segLen(in, at)
      require(len >= 3, "SOS segment truncated")
      val ns = bytes(at + 2) & 0xff
      require(ns >= 1 && ns <= nComps, s"SOS carries $ns components")
      require(len >= 6 + 2 * ns, "SOS component list truncated")
      val scanComp = new Array[Int](ns)
      val dcT = new Array[HuffTable](ns)
      val acT = new Array[HuffTable](ns)
      var c = 0
      while (c < ns) {
        val id = bytes(at + 3 + 2 * c) & 0xff
        val ci = compIds.indexOf(id)
        require(ci >= 0, s"SOS component id $id not in SOF")
        scanComp(c) = ci
        val tdTa = bytes(at + 4 + 2 * c) & 0xff
        require((tdTa >>> 4) <= 3 && (tdTa & 0xf) <= 3,
          "SOS Huffman table ids out of range")
        dcT(c) = dcTables(tdTa >>> 4)
        acT(c) = acTables(tdTa & 0xf)
        c += 1
      }
      val ss = bytes(at + 3 + 2 * ns) & 0xff
      val se = bytes(at + 4 + 2 * ns) & 0xff
      val ahAl = bytes(at + 5 + 2 * ns) & 0xff
      val ah = ahAl >>> 4
      val al = ahAl & 0xf
      require(se <= 63 && ss <= se, s"bad spectral band $ss..$se")
      require(al <= 13 && (ah == 0 || ah == al + 1),
        s"bad successive approximation Ah=$ah Al=$al")
      val isDc = ss == 0
      if (isDc) require(se == 0, "progressive DC scan must have Se=0")
      else require(ns == 1, "progressive AC scans must be single-component")

      val r = new BitReader(bytes, at + len)
      val pred = new Array[Int](nComps)
      var eobrun = 0
      var mcusDone = 0
      var rstCount = 0
      def maybeRestart(): Unit =
        if (restartInterval > 0 && mcusDone > 0 && mcusDone % restartInterval == 0) {
          r.restart(rstCount % 8)
          rstCount += 1
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
      def decodeDcFirst(ci: Int, t: HuffTable, blk: Array[Int]): Unit = {
        val cat = r.decode(t)
        require(cat <= 11, s"DC category $cat out of range")
        pred(ci) += extend(r.readBits(cat), cat)
        blk(0) = pred(ci) << al
      }

      if (isDc && ns > 1) {
        require(ns == nComps, "interleaved DC scan must carry all SOF components")
        var mcu = 0
        val mcus = mcuCols * mcuRows
        while (mcu < mcus) {
          maybeRestart()
          val mr = mcu / mcuCols
          val mc = mcu % mcuCols
          var s = 0
          while (s < ns) {
            val ci = scanComp(s)
            var v2 = 0
            while (v2 < vSamp(ci)) {
              var h2 = 0
              while (h2 < hSamp(ci)) {
                val blk = grids(ci)(
                  (mr * vSamp(ci) + v2) * gridW(ci) + mc * hSamp(ci) + h2)
                if (ah == 0) {
                  require(dcT(s) != null, "SOS references missing DC table")
                  decodeDcFirst(ci, dcT(s), blk)
                } else if (r.readBit() == 1) blk(0) |= (1 << al)
                h2 += 1
              }
              v2 += 1
            }
            s += 1
          }
          mcusDone += 1
          mcu += 1
        }
      } else {
        // single-component scan: the component's own (unpadded) block raster
        val ci = scanComp(0)
        val bw = ((width * hSamp(ci) + maxH - 1) / maxH + 7) / 8
        val bh = ((height * vSamp(ci) + maxV - 1) / maxV + 7) / 8
        val p1 = 1 << al
        val m1 = -1 << al
        if (!isDc) require(acT(0) != null, "SOS references missing AC table")
        else if (ah == 0) require(dcT(0) != null, "SOS references missing DC table")
        var by = 0
        while (by < bh) {
          var bx = 0
          while (bx < bw) {
            maybeRestart()
            val blk = grids(ci)(by * gridW(ci) + bx)
            if (isDc) {
              if (ah == 0) decodeDcFirst(ci, dcT(0), blk)
              else if (r.readBit() == 1) blk(0) |= p1
            } else if (ah == 0) {
              // AC first scan: run-length + EOB runs, values stored << Al
              if (eobrun > 0) eobrun -= 1
              else {
                var k = ss
                while (k <= se) {
                  val rs = r.decode(acT(0))
                  val run = rs >>> 4
                  val sz = rs & 0xf
                  if (sz == 0) {
                    if (run == 15) {
                      k += 16 // ZRL
                      require(k <= se + 1, "ZRL past band end")
                    } else {
                      eobrun = (1 << run) - 1 +
                        (if (run > 0) r.readBits(run) else 0)
                      k = se + 1
                    }
                  } else {
                    k += run
                    require(k <= se, "AC run past band end")
                    blk(ZigZag(k)) = extend(r.readBits(sz), sz) << al
                    k += 1
                  }
                }
              }
            } else {
              // AC refinement: correction bit per nonzero coefficient,
              // newly-visible coefficients arrive as ±2^Al
              def refineBit(z: Int): Unit =
                if (r.readBit() == 1 && (blk(z) & p1) == 0)
                  blk(z) += (if (blk(z) >= 0) p1 else m1)
              var k = ss
              if (eobrun == 0) {
                var atEob = false
                while (k <= se && !atEob) {
                  val rs = r.decode(acT(0))
                  var run = rs >>> 4
                  val sz = rs & 0xf
                  var newVal = 0
                  if (sz == 0) {
                    if (run != 15) {
                      eobrun = (1 << run) +
                        (if (run > 0) r.readBits(run) else 0)
                      atEob = true
                    } // run == 15: ZRL — skip 16 zero-history positions
                  } else {
                    require(sz == 1, f"AC refinement symbol 0x$rs%02x must have size 1")
                    newVal = if (r.readBit() == 1) p1 else m1
                  }
                  if (!atEob) {
                    var placed = false
                    while (k <= se && !placed) {
                      val z = ZigZag(k)
                      if (blk(z) != 0) refineBit(z)
                      else {
                        if (run == 0) {
                          if (newVal != 0) blk(z) = newVal
                          placed = true
                        }
                        run -= 1
                      }
                      k += 1
                    }
                    require(placed || newVal == 0, "AC refinement run past band end")
                  }
                }
              }
              if (eobrun > 0) {
                // inside an EOB run: remaining nonzeros still take bits
                while (k <= se) {
                  val z = ZigZag(k)
                  if (blk(z) != 0) refineBit(z)
                  k += 1
                }
                eobrun -= 1
              }
            }
            mcusDone += 1
            bx += 1
          }
          by += 1
        }
      }
      // entropy data ends exactly at the next marker; a 0xFF-valued padding
      // byte carries its stuffed 0x00, and 0xFF fill bytes may precede the
      // marker — anything else is unconsumed entropy data (a named error)
      var p = r.pos
      var scanning = true
      while (scanning) {
        require(p + 2 <= bytes.length, "JPEG truncated after progressive scan")
        require((bytes(p) & 0xff) == 0xff,
          f"unconsumed entropy byte 0x${bytes(p) & 0xff}%02x after scan data")
        val b1 = bytes(p + 1) & 0xff
        if (b1 == 0x00) p += 2      // stuffed padding byte
        else if (b1 == 0xff) p += 1 // fill
        else scanning = false
      }
      p
    }

    var done = false
    while (!done) {
      require(i + 2 <= bytes.length, "JPEG truncated before EOI")
      require((bytes(i) & 0xff) == 0xff,
        f"expected marker at $i, got 0x${bytes(i) & 0xff}%02x")
      var m = bytes(i + 1) & 0xff
      i += 2
      while (m == 0xff) { // fill bytes
        require(i < bytes.length, "JPEG truncated in marker fill bytes")
        m = bytes(i) & 0xff
        i += 1
      }
      m match {
        case 0xd8 => // SOI (tolerated)
        case 0xd9 => done = true
        case 0xc2 =>
          require(grids == null, "multiple SOF segments")
          val len = segLen(in, i)
          val sof = readSof(in, i, len)
          width = sof.width
          height = sof.height
          nComps = sof.nComps
          compIds = sof.compIds
          compQuant = sof.compQuant
          hSamp = sof.hSamp
          vSamp = sof.vSamp
          maxH = hSamp.max
          maxV = vSamp.max
          mcuCols = (width + 8 * maxH - 1) / (8 * maxH)
          mcuRows = (height + 8 * maxV - 1) / (8 * maxV)
          gridW = Array.tabulate(nComps)(c2 => mcuCols * hSamp(c2))
          grids = Array.tabulate(nComps)(c2 =>
            Array.fill(gridW(c2) * mcuRows * vSamp(c2))(new Array[Int](64)))
          i += len
        case 0xc0 | 0xc1 =>
          throw new IllegalArgumentException("sequential SOF inside progressive stream")
        case 0xc4 => // DHT
          val len = segLen(in, i)
          readDht(bytes, i, len, dcTables, acTables)
          i += len
        case 0xdb => // DQT
          val len = segLen(in, i)
          readDqt(bytes, i, len, quantTables)
          i += len
        case 0xdd =>
          val len = segLen(in, i)
          require(len >= 4, "DRI segment truncated")
          restartInterval = in.u16be(i + 2)
          i += len
        case 0xda =>
          require(grids != null, "SOS before SOF")
          i = decodeScan(i)
          scans += 1
        case x if x >= 0xe0 && x <= 0xef => i += segLen(in, i)
        case 0xfe => i += segLen(in, i)
        case o => throw new IllegalArgumentException(f"unsupported JPEG marker 0xff$o%02x")
      }
    }
    require(grids != null && scans > 0, "progressive JPEG has no decoded scan")
    val quants = Array.tabulate(nComps) { c =>
      val q = quantTables(compQuant(c))
      require(q != null, s"SOF references missing quant table ${compQuant(c)}")
      q
    }
    val compOfBlock = (0 until nComps)
      .flatMap(c => Seq.fill(hSamp(c) * vSamp(c))(c)).toArray
    val blocksPerMcu = compOfBlock.length
    val blocks = new Array[Array[Int]](mcuCols * mcuRows * blocksPerMcu)
    var mcu = 0
    var w = 0
    while (mcu < mcuCols * mcuRows) {
      val mr = mcu / mcuCols
      val mc = mcu % mcuCols
      var c = 0
      while (c < nComps) {
        var v2 = 0
        while (v2 < vSamp(c)) {
          var h2 = 0
          while (h2 < hSamp(c)) {
            blocks(w) = grids(c)((mr * vSamp(c) + v2) * gridW(c) + mc * hSamp(c) + h2)
            w += 1
            h2 += 1
          }
          v2 += 1
        }
        c += 1
      }
      mcu += 1
    }
    JpegParsed(width, height, nComps, quants, hSamp, vSamp, compOfBlock, blocks)
  }

  private val CosTable: Array[Double] = {
    val t = new Array[Double](8 * 8) // t(x*8+u) = cos((2x+1) u pi / 16)
    for (x <- 0 until 8; u <- 0 until 8)
      t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
    t
  }

  /** Dequantize + full 2D IDCT (T.81 A.3.3) + level shift, one 8x8 block. */
  def reconstruct(coefQ: Array[Int], quant: Array[Int]): Array[Int] = {
    // separable IDCT (columns of u first, then v): the same double sum
    // reassociated, 8x fewer multiplies on the per-block hot path; the
    // cu/cv normalization folds into the dequantized coefficients
    val f = new Array[Double](64)
    var k = 0
    while (k < 64) {
      val cu = if (k % 8 == 0) 0.70710678118654752440 else 1.0
      val cv = if (k / 8 == 0) 0.70710678118654752440 else 1.0
      f(k) = coefQ(k).toDouble * quant(k) * cu * cv
      k += 1
    }
    val tmp = new Array[Double](64) // tmp(v*8+x) = sum_u f(v,u) C(x,u)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += f(v * 8 + u) * CosTable(x * 8 + u); u += 1 }
        tmp(v * 8 + x) = acc
        x += 1
      }
      v += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var vv = 0
        while (vv < 8) { acc += tmp(vv * 8 + x) * CosTable(y * 8 + vv); vv += 1 }
        val p = math.round(acc / 4.0).toInt + 128
        out(y * 8 + x) = math.max(0, math.min(255, p))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Full decode to [[MediaCodecs.ImageMeta]]: pixelSum over the w x h crop
    * of the reconstructed MCU grid (padding pixels are decoded, not summed).
    * 4:2:0 chroma is upsampled by sample replication (each chroma sample
    * covers a 2x2 luma neighborhood); with the JFIF transform applied per
    * pixel, rounded and clamped per channel. */
  def decode(bytes: Array[Byte],
             sink: MediaCodecs.PixelBuf = null): MediaCodecs.ImageMeta = {
    val p = parse(bytes)
    if (sink != null) sink.init(if (p.comps == 1) "L" else "RGB", p.width, p.height)
    val maxH = p.hSamp.max
    val maxV = p.vSamp.max
    val mcuPixW = 8 * maxH
    val mcuPixH = 8 * maxV
    val mcuCols = (p.width + mcuPixW - 1) / mcuPixW
    // start of component c's blocks within an MCU (prefix sum of h*v)
    val compOff = new Array[Int](p.comps)
    var off = 0
    for (c <- 0 until p.comps) { compOff(c) = off; off += p.hSamp(c) * p.vSamp(c) }
    val blocksPerMcu = off
    var sum = 0L
    var mcu = 0
    val mcus = p.blocks.length / blocksPerMcu
    while (mcu < mcus) {
      val recon = Array.tabulate(blocksPerMcu) { j =>
        reconstruct(p.blocks(mcu * blocksPerMcu + j), p.quants(p.compOfBlock(j)))
      }
      // component c's sample at MCU-relative luma coordinate (x, y):
      // scale to the component grid, then index its raster of 8x8 blocks
      def samp(c: Int, x: Int, y: Int): Int = {
        val sx = x * p.hSamp(c) / maxH
        val sy = y * p.vSamp(c) / maxV
        recon(compOff(c) + (sy >> 3) * p.hSamp(c) + (sx >> 3))((sy & 7) * 8 + (sx & 7))
      }
      val x0 = (mcu % mcuCols) * mcuPixW
      val y0 = (mcu / mcuCols) * mcuPixH
      var y = 0
      while (y < mcuPixH && y0 + y < p.height) {
        var x = 0
        while (x < mcuPixW && x0 + x < p.width) {
          val at = ((y0 + y) * p.width + (x0 + x)) * p.comps.min(3)
          if (p.comps == 1) {
            val v = samp(0, x, y)
            sum += v
            if (sink != null) sink.data(at) = v.toByte
          } else {
            // JFIF YCbCr -> RGB, rounded and clamped per channel
            val yy = samp(0, x, y).toDouble
            val cb = samp(1, x, y) - 128.0
            val cr = samp(2, x, y) - 128.0
            def clamp(v: Double): Int =
              math.max(0, math.min(255, math.round(v).toInt))
            val r = clamp(yy + 1.402 * cr)
            val g = clamp(yy - 0.344136 * cb - 0.714136 * cr)
            val b = clamp(yy + 1.772 * cb)
            sum += r; sum += g; sum += b
            if (sink != null) {
              sink.data(at) = r.toByte
              sink.data(at + 1) = g.toByte
              sink.data(at + 2) = b.toByte
            }
          }
          x += 1
        }
        y += 1
      }
      mcu += 1
    }
    MediaCodecs.ImageMeta("jpeg", p.width, p.height, if (p.comps == 1) "L" else "RGB", sum)
  }
}
