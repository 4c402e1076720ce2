package graft.fixtures

import graft.multimodal.JpegCodec
import graft.util.ByteSink

/** Baseline-sequential JPEG writer (fixture side of
  * [[graft.multimodal.JpegCodec]]): real entropy coding — canonical Huffman
  * codes derived from the standard T.81 annex K tables (transmitted in DHT,
  * never assumed by the decoder), MSB-first bit packing with 0xFF00 byte
  * stuffing, zigzag run-length AC with ZRL and EOB, one's-complement
  * negative magnitude bits.
  *
  * [[generate]] emits band-constant grayscale content (every 8-row band is
  * the constant `(seed + band) % 256`): each 8x8 block is flat, so its DCT
  * has only the DC coefficient `8 * (v - 128)`, and with a flat quant table
  * of 8 the quantized DC is exactly `v - 128` — baseline JPEG round-trips
  * such content LOSSLESSLY, which is what makes a closed-form pixel-sum
  * oracle possible for a lossy format. [[fromCoeffs]] writes arbitrary
  * quantized coefficient blocks for coefficient-exact tests of the decoder's
  * AC entropy layer (runs, ZRL, negative extends) without IDCT involvement.
  */
object JpegWriter {

  private val QuantStep = 8

  private type BitWriter = JpegCodec.BitWriter
  private def category(v: Int): Int = JpegCodec.category(v)

  /** Band-constant grayscale: rows `8b..8b+7` hold `(seed + b) % 256`.
    * Width/height need NOT be multiples of 8 — edge blocks are padded with
    * the same band value (flat blocks stay flat), and the decoder crops.
    * `restartInterval` > 0 emits DRI + RSTn markers every that many MCUs. */
  def generate(width: Int, height: Int, seed: Int,
               restartInterval: Int = 0): Array[Byte] = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    val blocks = Array.tabulate(bx * by) { b =>
      val band = b / bx
      val v = (seed + band) % 256
      val coef = new Array[Int](64)
      coef(0) = v - 128 // quantized DC at step 8; AC all zero
      coef
    }
    fromCoeffs(width, height, blocks, restartInterval = restartInterval)
  }

  /** 3-component YCbCr 4:4:4 with the same band-constant luma and NEUTRAL
    * chroma (Cb=Cr=128 → level-shifted coefficients all zero): the color
    * transform collapses to R=G=B=Y exactly, so even the color path has a
    * closed-form sum of 3x the grayscale one. */
  def generateColor(width: Int, height: Int, seed: Int,
                    restartInterval: Int = 0): Array[Byte] = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    val blocks = Array.tabulate(bx * by * 3) { i =>
      val coef = new Array[Int](64)
      if (i % 3 == 0) { // Y plane; Cb/Cr stay all-zero (=128 after shift)
        val band = (i / 3) / bx
        coef(0) = (seed + band) % 256 - 128
      }
      coef
    }
    fromCoeffs(width, height, blocks, comps = 3, restartInterval = restartInterval)
  }

  /** 4:2:0 variant of [[generateColor]]: same band-constant luma content
    * (Y block row v of MCU-row m covers pixel rows 16m+8v.., i.e. band
    * 2m+v) and neutral chroma, so the decoded pixels — and the closed-form
    * sum — are identical to the 4:4:4 stream at the same (w, h, seed);
    * only the MCU layout ([Y0 Y1 Y2 Y3 Cb Cr]) differs. */
  def generateColor420(width: Int, height: Int, seed: Int,
                       restartInterval: Int = 0): Array[Byte] = {
    val mx = (width + 15) / 16
    val my = (height + 15) / 16
    val blocks = Array.tabulate(mx * my * 6) { i =>
      val coef = new Array[Int](64)
      val j = i % 6
      if (j < 4) { // Y raster within the MCU: (v, h) = (j/2, j%2)
        val band = 2 * (i / 6 / mx) + j / 2
        coef(0) = (seed + band) % 256 - 128
      }
      coef
    }
    fromCoeffs(width, height, blocks, comps = 3,
      restartInterval = restartInterval, subsample420 = true)
  }

  /** Serialize QUANTIZED coefficient blocks (natural order; for `comps` > 1
    * interleaved one-block-per-component-per-MCU, row-major MCUs) into a
    * complete JFIF baseline stream with a flat quant table of 8 shared by
    * all components. `restartInterval` > 0 emits a DRI segment and an RSTn
    * marker (cyclic 0-7, fill bits flushed, DC predictors reset) after
    * every `restartInterval` MCUs. `subsample420` (comps = 3 only) writes
    * Y at 2x2 sampling with blocks laid out `[Y0 Y1 Y2 Y3 Cb Cr]` per
    * 16x16-pixel MCU. */
  def fromCoeffs(width: Int, height: Int, blocks: Array[Array[Int]],
                 comps: Int = 1, restartInterval: Int = 0,
                 subsample420: Boolean = false): Array[Byte] = {
    require(!subsample420 || comps == 3, "4:2:0 requires 3 components")
    val compOfBlock: Array[Int] =
      if (subsample420) Array(0, 0, 0, 0, 1, 2) else (0 until comps).toArray
    val blocksPerMcu = compOfBlock.length
    val expectedBlocks =
      if (subsample420) ((width + 15) / 16) * ((height + 15) / 16) * 6
      else ((width + 7) / 8) * ((height + 7) / 8) * comps
    require(blocks.length == expectedBlocks,
      s"${blocks.length} blocks for ${width}x$height x$comps (want $expectedBlocks)")
    val out = new ByteSink()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }

    marker(0xd8) // SOI
    marker(0xe0) // APP0 / JFIF
    out.u16be(16)
    out.write("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0) // no density units
    out.u16be(1); out.u16be(1)
    out.write(0); out.write(0) // no thumbnail

    marker(0xdb) // DQT, table 0, zigzag order (flat -> order-invariant)
    out.u16be(2 + 1 + 64)
    out.write(0x00)
    for (_ <- 0 until 64) out.write(QuantStep)

    marker(0xc0) // SOF0: 8-bit; sampling 4:4:4, or 4:2:0 (Y at 2x2)
    out.u16be(2 + 6 + 3 * comps)
    out.write(8)
    out.u16be(height); out.u16be(width)
    out.write(comps)
    for (c <- 1 to comps) {
      out.write(c)
      out.write(if (subsample420 && c == 1) 0x22 else 0x11)
      out.write(0)
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

    if (restartInterval > 0) { // DRI
      marker(0xdd)
      out.u16be(4)
      out.u16be(restartInterval)
    }

    marker(0xda) // SOS: all components, each on DC 0 / AC 0
    out.u16be(2 + 1 + 2 * comps + 3)
    out.write(comps)
    for (c <- 1 to comps) { out.write(c); out.write(0x00) }
    out.write(0); out.write(63); out.write(0) // Ss/Se/AhAl

    // ---- entropy-coded segment
    val dcCodes = JpegCodec.encodeTable(JpegCodec.StdDcCounts, JpegCodec.StdDcVals)
    val acCodes = JpegCodec.encodeTable(JpegCodec.StdAcCounts, JpegCodec.StdAcVals)
    val bits = new BitWriter(out)
    def flushBits(): Unit = bits.flush()

    val preds = new Array[Int](comps) // per-component DC predictors
    var rstCount = 0
    var bi = 0
    for (coef <- blocks) {
      if (restartInterval > 0 && bi % blocksPerMcu == 0) {
        val mcuIdx = bi / blocksPerMcu
        if (mcuIdx > 0 && mcuIdx % restartInterval == 0) {
          flushBits()
          marker(0xd0 + (rstCount % 8))
          rstCount += 1
          java.util.Arrays.fill(preds, 0)
        }
      }
      val comp = compOfBlock(bi % blocksPerMcu)
      bi += 1
      preds(comp) = JpegCodec.writeBaselineBlock(bits, coef, preds(comp), dcCodes, acCodes)
    }
    flushBits()

    marker(0xd9) // EOI
    out.toByteArray
  }

  // ---- progressive (SOF2) writer -------------------------------------------

  /** One progressive scan: component indices (0-based), spectral band
    * Ss..Se, successive-approximation Ah/Al. DC scans (Ss=Se=0) may be
    * interleaved; AC scans must be single-component (T.81 G.1). */
  final case class ProgressiveScan(comps: Seq[Int], ss: Int, se: Int,
                                   ah: Int, al: Int)

  /** AC Huffman table for progressive scans: the annex-K baseline table
    * lacks the EOB-run symbols (r<<4, r>=1), so fixtures transmit this
    * flat 8-bit canonical table covering every symbol a progressive
    * encoder can emit (EOBn, ZRL, run/size pairs). */
  val ProgAcVals: Array[Int] = {
    val b = Array.newBuilder[Int]
    b += 0x00                                  // EOB0
    for (n <- 1 to 14) b += (n << 4)           // EOBn run-length categories
    b += 0xf0                                  // ZRL
    for (run <- 0 to 15; size <- 1 to 10) b += ((run << 4) | size)
    b.result()
  }
  val ProgAcCounts: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, ProgAcVals.length, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Band-constant grayscale as a PROGRESSIVE stream — same pixels (and
    * closed-form sum) as [[generate]] at the same (w, h, seed): DC first
    * scan at Al=1 + DC refinement, AC band scans that are pure EOB runs.
    * `restartInterval` > 0 exercises per-scan RSTn handling. */
  def generateProgressive(width: Int, height: Int, seed: Int,
                          restartInterval: Int = 0): Array[Byte] = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    val blocks = Array.tabulate(bx * by) { b =>
      val coef = new Array[Int](64)
      coef(0) = (seed + b / bx) % 256 - 128
      coef
    }
    fromCoeffsProgressive(width, height, blocks, 1, Seq(
      ProgressiveScan(Seq(0), 0, 0, 0, 1),
      ProgressiveScan(Seq(0), 1, 5, 0, 1),
      ProgressiveScan(Seq(0), 6, 63, 0, 1),
      ProgressiveScan(Seq(0), 1, 63, 1, 0),
      ProgressiveScan(Seq(0), 0, 0, 1, 0)), restartInterval = restartInterval)
  }

  /** Progressive YCbCr — pixels identical to [[generateColor]] (4:4:4) or
    * [[generateColor420]] at the same (w, h, seed): interleaved DC first
    * scan, per-component AC band scans, per-component AC refinements,
    * DC refinement. */
  def generateColorProgressive(width: Int, height: Int, seed: Int,
                               subsample420: Boolean = false,
                               restartInterval: Int = 0): Array[Byte] = {
    val blocks =
      if (subsample420) {
        val mx = (width + 15) / 16
        val my = (height + 15) / 16
        Array.tabulate(mx * my * 6) { i =>
          val coef = new Array[Int](64)
          val j = i % 6
          if (j < 4) coef(0) = (seed + 2 * (i / 6 / mx) + j / 2) % 256 - 128
          coef
        }
      } else {
        val bx = (width + 7) / 8
        val by = (height + 7) / 8
        Array.tabulate(bx * by * 3) { i =>
          val coef = new Array[Int](64)
          if (i % 3 == 0) coef(0) = (seed + (i / 3) / bx) % 256 - 128
          coef
        }
      }
    fromCoeffsProgressive(width, height, blocks, 3, Seq(
      ProgressiveScan(Seq(0, 1, 2), 0, 0, 0, 1),
      ProgressiveScan(Seq(0), 1, 5, 0, 1),
      ProgressiveScan(Seq(1), 1, 63, 0, 1),
      ProgressiveScan(Seq(2), 1, 63, 0, 1),
      ProgressiveScan(Seq(0), 6, 63, 0, 1),
      ProgressiveScan(Seq(0), 1, 63, 1, 0),
      ProgressiveScan(Seq(1), 1, 63, 1, 0),
      ProgressiveScan(Seq(2), 1, 63, 1, 0),
      ProgressiveScan(Seq(0, 1, 2), 0, 0, 1, 0)),
      subsample420 = subsample420, restartInterval = restartInterval)
  }

  /** Serialize QUANTIZED coefficient blocks (same interleaved-MCU layout as
    * [[fromCoeffs]]) as a complete PROGRESSIVE (SOF2) stream following the
    * given scan script. Encodes the T.81 annex-G entropy layers for real:
    * DC first scans at `coef >> Al` with predictors, DC refinement bits,
    * AC first scans on `|coef| >> Al` magnitudes with EOB-run accumulation,
    * and AC refinement with buffered correction bits interleaved exactly as
    * the decoder consumes them (the libjpeg `encode_mcu_AC_refine`
    * contract). A coefficient whose band/precision no scan covers is NOT
    * validated — scripts are fixture-side. */
  def fromCoeffsProgressive(width: Int, height: Int, blocks: Array[Array[Int]],
                            comps: Int, scans: Seq[ProgressiveScan],
                            subsample420: Boolean = false,
                            restartInterval: Int = 0): Array[Byte] = {
    require(!subsample420 || comps == 3, "4:2:0 requires 3 components")
    val compOfBlock: Array[Int] =
      if (subsample420) Array(0, 0, 0, 0, 1, 2) else (0 until comps).toArray
    val hSamp = Array.tabulate(comps)(c => if (subsample420 && c == 0) 2 else 1)
    val vSamp = hSamp.clone()
    val maxH = hSamp.max
    val maxV = vSamp.max
    val mcuCols = (width + 8 * maxH - 1) / (8 * maxH)
    val mcuRows = (height + 8 * maxV - 1) / (8 * maxV)
    val blocksPerMcu = compOfBlock.length
    require(blocks.length == mcuCols * mcuRows * blocksPerMcu,
      s"${blocks.length} blocks for ${width}x$height x$comps (want ${mcuCols * mcuRows * blocksPerMcu})")
    // per-component grids in raster order (the layout progressive scans walk)
    val gridW = Array.tabulate(comps)(c => mcuCols * hSamp(c))
    val grids = Array.tabulate(comps)(c =>
      new Array[Array[Int]](gridW(c) * mcuRows * vSamp(c)))
    locally {
      var w = 0
      for (mcu <- 0 until mcuCols * mcuRows; c <- 0 until comps;
           v2 <- 0 until vSamp(c); h2 <- 0 until hSamp(c)) {
        val mr = mcu / mcuCols
        val mc = mcu % mcuCols
        grids(c)((mr * vSamp(c) + v2) * gridW(c) + mc * hSamp(c) + h2) = blocks(w)
        w += 1
      }
    }

    val out = new ByteSink()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }

    marker(0xd8) // SOI
    marker(0xdb) // DQT, table 0 (flat -> zigzag-order-invariant)
    out.u16be(2 + 1 + 64)
    out.write(0x00)
    for (_ <- 0 until 64) out.write(QuantStep)

    marker(0xc2) // SOF2
    out.u16be(2 + 6 + 3 * comps)
    out.write(8)
    out.u16be(height); out.u16be(width)
    out.write(comps)
    for (c <- 1 to comps) {
      out.write(c)
      out.write(if (subsample420 && c == 1) 0x22 else 0x11)
      out.write(0)
    }

    def dht(tcTh: Int, counts: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      out.u16be(2 + 1 + 16 + vals.length)
      out.write(tcTh)
      counts.foreach(out.write)
      vals.foreach(out.write)
    }
    dht(0x00, JpegCodec.StdDcCounts, JpegCodec.StdDcVals)
    dht(0x10, ProgAcCounts, ProgAcVals)

    if (restartInterval > 0) {
      marker(0xdd)
      out.u16be(4)
      out.u16be(restartInterval)
    }

    val dcCodes = JpegCodec.encodeTable(JpegCodec.StdDcCounts, JpegCodec.StdDcVals)
    val acCodes = JpegCodec.encodeTable(ProgAcCounts, ProgAcVals)
    val bits = new BitWriter(out)
    def putBits(v: Int, n: Int): Unit = bits.putBits(v, n)
    def putSymbol(codes: Map[Int, (Int, Int)], sym: Int): Unit = bits.putSymbol(codes, sym)
    def putMagnitude(v: Int, cat: Int): Unit = bits.putMagnitude(v, cat)
    def flushBits(): Unit = bits.flush()

    for (scan <- scans) {
      val ns = scan.comps.size
      val isDc = scan.ss == 0
      require(isDc || ns == 1, "AC scans must be single-component")
      marker(0xda) // SOS
      out.u16be(2 + 1 + 2 * ns + 3)
      out.write(ns)
      for (c <- scan.comps) { out.write(c + 1); out.write(0x00) }
      out.write(scan.ss); out.write(scan.se)
      out.write((scan.ah << 4) | scan.al)

      val preds = new Array[Int](comps)
      var eobrun = 0
      val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushEob(): Unit = {
        if (eobrun > 0) {
          val nbits = 31 - Integer.numberOfLeadingZeros(eobrun)
          putSymbol(acCodes, nbits << 4)
          if (nbits > 0) putBits(eobrun & ((1 << nbits) - 1), nbits)
          eobrun = 0
          pending.foreach(b => putBits(b, 1))
          pending.clear()
        }
      }
      var mcusDone = 0
      var rstCount = 0
      def maybeRestart(): Unit =
        if (restartInterval > 0 && mcusDone > 0 && mcusDone % restartInterval == 0) {
          flushEob()
          flushBits()
          marker(0xd0 + (rstCount % 8))
          rstCount += 1
          java.util.Arrays.fill(preds, 0)
        }
      def encodeDcFirst(ci: Int, blk: Array[Int]): Unit = {
        val v = blk(0) >> scan.al
        val diff = v - preds(ci)
        preds(ci) = v
        val cat = category(diff)
        require(cat <= 11, s"DC diff $diff out of range")
        putSymbol(dcCodes, cat)
        putMagnitude(diff, cat)
      }
      def encodeAcBlock(blk: Array[Int]): Unit =
        if (scan.ah == 0) { // first scan on |coef| >> Al magnitudes
          var r = 0
          for (k <- scan.ss to scan.se) {
            val v = blk(JpegCodec.ZigZag(k))
            val t = math.abs(v) >> scan.al
            if (t == 0) r += 1
            else {
              flushEob()
              while (r > 15) { putSymbol(acCodes, 0xf0); r -= 16 }
              val sv = if (v < 0) -t else t
              val cat = category(sv)
              require(cat <= 10, s"AC magnitude $sv out of range")
              putSymbol(acCodes, (r << 4) | cat)
              putMagnitude(sv, cat)
              r = 0
            }
          }
          if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
        } else { // refinement: new ±2^Al coefficients + buffered correction bits
          val br = scala.collection.mutable.ArrayBuffer.empty[Int]
          var r = 0
          for (k <- scan.ss to scan.se) {
            val v = blk(JpegCodec.ZigZag(k))
            val t = math.abs(v) >> scan.al
            if (t == 0) r += 1
            else {
              // the ZRL check runs at EVERY nonzero (libjpeg's contract):
              // each flushed buffer holds exactly the correction bits the
              // decoder's 16-zero ZRL walk passes over — flushing bits
              // buffered beyond that span would misalign the stream
              while (r > 15) {
                flushEob()
                putSymbol(acCodes, 0xf0)
                r -= 16
                br.foreach(b => putBits(b, 1))
                br.clear()
              }
              if (t > 1) br += (t & 1) // already visible: correction bit
              else {
                flushEob()
                putSymbol(acCodes, (r << 4) | 1)
                putBits(if (v < 0) 0 else 1, 1)
                br.foreach(b => putBits(b, 1))
                br.clear()
                r = 0
              }
            }
          }
          if (r > 0 || br.nonEmpty) {
            eobrun += 1
            pending ++= br
            if (eobrun == 0x7fff) flushEob()
          }
        }

      if (isDc && ns > 1) {
        require(ns == comps, "interleaved DC scan must carry all components")
        for (mcu <- 0 until mcuCols * mcuRows) {
          maybeRestart()
          val mr = mcu / mcuCols
          val mc = mcu % mcuCols
          for (s <- 0 until ns; v2 <- 0 until vSamp(scan.comps(s));
               h2 <- 0 until hSamp(scan.comps(s))) {
            val ci = scan.comps(s)
            val blk = grids(ci)((mr * vSamp(ci) + v2) * gridW(ci) + mc * hSamp(ci) + h2)
            if (scan.ah == 0) encodeDcFirst(ci, blk)
            else putBits((blk(0) >> scan.al) & 1, 1)
          }
          mcusDone += 1
        }
      } else {
        val ci = scan.comps.head
        val bw = ((width * hSamp(ci) + maxH - 1) / maxH + 7) / 8
        val bh = ((height * vSamp(ci) + maxV - 1) / maxV + 7) / 8
        for (by <- 0 until bh; bx <- 0 until bw) {
          maybeRestart()
          val blk = grids(ci)(by * gridW(ci) + bx)
          if (isDc) {
            if (scan.ah == 0) encodeDcFirst(ci, blk)
            else putBits((blk(0) >> scan.al) & 1, 1)
          } else encodeAcBlock(blk)
          mcusDone += 1
        }
      }
      flushEob()
      flushBits()
    }

    marker(0xd9) // EOI
    out.toByteArray
  }
}
