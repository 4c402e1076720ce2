package graft.multimodal

import scala.collection.mutable

import graft.util.{ByteCursor, MsbReader}

/** From-scratch MPEG-1/2 Layer III (mp3) sample decoder.
  *
  * Closes the largest remaining pydub-parity gap (the reference loads mp3
  * payloads for its whole convert/merge surface,
  * /root/reference/src/converters/audio_converters.py:40-44,67-75): header
  * walk, bit reservoir, side info, scalefactors (MPEG-1 scfsi + MPEG-2 LSF
  * partitions), Huffman spectrum incl. escape/linbits and both count1
  * tables, requantization, MS + MPEG-1 intensity stereo, alias reduction,
  * long/short/mixed/start/stop IMDCT windows, and the 32-band polyphase
  * synthesis filterbank.
  *
  * This is a LINE-FOR-LINE mirror of the reference decoder
  * scripts/mp3ref/decoder.py: every transcendental-derived constant is
  * loaded bit-identically from mp3/mp3tables.bin (see [[Mp3Tables]]) and
  * the arithmetic evaluation order matches, so decoding is bit-exact
  * against the committed PCM digests in mp3/manifest.tsv. Validation
  * chain and its sandbox boundary (no third-party mp3 codec exists here):
  * filterbank perfect-reconstruction 86.8 dB, end-to-end encode->decode
  * SNR 36-39 dB on the audio fixtures, structural Huffman checks, and a
  * real LAME LSF bitstream (framing/reservoir; decodes to digital
  * silence) — the scripts under scripts/mp3ref/, SURVEY.md K6.
  *
  * Named errors (same contract as the rest of the media tier): Layer I/II
  * sample decode (header-only elsewhere), MPEG-2.5, free-format bitrate,
  * LSF intensity stereo, and a granule whose part2_3_length claims more
  * bits than the reservoir plus the frame hold.
  */
object Mp3Codec {
  import Mp3Tables._

  // Bit reads (MSB-first) are bounded only by the array. A read past it is
  // an index error, never an IllegalArgumentException that the count1
  // loop's catch would swallow.
  private val pastArray: () => Nothing =
    () => throw new ArrayIndexOutOfBoundsException("mp3 bit read past end of data")

  private def err(msg: String): Nothing = throw new IllegalArgumentException("mp3: " + msg)

  // ---- frame header ----
  private val BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)

  private final case class Hdr(lsf: Boolean, sampleRate: Int, bitrate: Int,
                               mode: Int, modeExt: Int, padding: Int,
                               crc: Boolean, frameLen: Int, channels: Int)

  /** null when `off` holds no syncword / a reserved combination; throws the
    * named errors for recognized-but-unsupported streams. */
  private def parseHeader(b: ByteCursor, off: Int): Hdr = {
    if (off + 4 > b.length) return null
    val h = b.i32be(off)
    if (((h >>> 21) & 0x7ff) != 0x7ff) return null
    val ver = (h >>> 19) & 3
    val layer = (h >>> 17) & 3
    if (ver == 1) return null
    if (ver == 0) err("MPEG-2.5 sample decode not supported (non-ISO extension)")
    if (layer != 1) err("only Layer III sample decode is supported (I/II are header-only)")
    val lsf = ver == 2
    val brIdx = (h >>> 12) & 15
    val srIdx = (h >>> 10) & 3
    if (brIdx == 0) err("free-format bitrate not supported")
    if (brIdx == 15 || srIdx == 3) return null
    val bitrate = (if (lsf) BitrateV2 else BitrateV1)(brIdx) * 1000
    val sampleRate = (if (lsf) SrV2 else SrV1)(srIdx)
    val padding = (h >>> 9) & 1
    val mode = (h >>> 6) & 3
    val slots = (if (lsf) 72000L else 144000L) * (bitrate / 1000)
    Hdr(lsf, sampleRate, bitrate, mode, (h >>> 4) & 3, padding,
      ((h >>> 16) & 1) == 0, (slots / sampleRate).toInt + padding,
      if (mode == 3) 1 else 2)
  }

  // ---- side info ----
  private final class Gran {
    var part23 = 0
    var bigValues = 0
    var globalGain = 0
    var scalefacCompress = 0
    var windowSwitching = false
    var blockType = 0
    var mixed = 0
    val tableSelect = new Array[Int](3)
    val subblockGain = new Array[Int](3)
    var region0Count = 0
    var region1Count = 0
    var preflag = 0
    var scalefacScale = 0
    var count1Table = 0
    var sfLong: Array[Int] = null
  }

  private final class SideInfo(val mainDataBegin: Int,
                               val scfsi: Array[Array[Int]],
                               val granules: Array[Array[Gran]])

  private def parseSideInfo(hd: Hdr, bits: MsbReader): SideInfo = {
    val nch = hd.channels
    var mdb = 0
    var scfsi: Array[Array[Int]] = null
    var ngr = 0
    if (hd.lsf) {
      mdb = bits.read(8)
      bits.read(if (nch == 1) 1 else 2)
      ngr = 1
      scfsi = Array.fill(nch)(Array(0, 0, 0, 0))
    } else {
      mdb = bits.read(9)
      bits.read(if (nch == 1) 5 else 3)
      scfsi = Array.fill(nch)(Array.fill(4)(bits.bit()))
      ngr = 2
    }
    val grs = Array.ofDim[Gran](ngr, nch)
    var g0 = 0
    while (g0 < ngr) {
      var c = 0
      while (c < nch) {
        val g = new Gran
        g.part23 = bits.read(12)
        g.bigValues = bits.read(9)
        if (g.bigValues > 288) err(s"big_values ${g.bigValues} > 288")
        g.globalGain = bits.read(8)
        g.scalefacCompress = bits.read(if (hd.lsf) 9 else 4)
        g.windowSwitching = bits.bit() == 1
        if (g.windowSwitching) {
          g.blockType = bits.read(2)
          if (g.blockType == 0) err("window_switching with block_type 0 is forbidden")
          g.mixed = bits.bit()
          g.tableSelect(0) = bits.read(5)
          g.tableSelect(1) = bits.read(5)
          var w = 0
          while (w < 3) { g.subblockGain(w) = bits.read(3); w += 1 }
          g.region0Count = 7
          g.region1Count = 36
        } else {
          g.blockType = 0
          g.mixed = 0
          var r = 0
          while (r < 3) { g.tableSelect(r) = bits.read(5); r += 1 }
          g.region0Count = bits.read(4)
          g.region1Count = bits.read(3)
        }
        g.preflag = if (hd.lsf) 0 else bits.bit()
        g.scalefacScale = bits.bit()
        g.count1Table = bits.bit()
        grs(g0)(c) = g
        c += 1
      }
      g0 += 1
    }
    new SideInfo(mdb, scfsi, grs)
  }

  // ---- scalefactors ----
  private def readScalefacsMpeg1(bits: MsbReader, g: Gran, scfsi: Array[Int],
                                 gr: Int, prev: Array[Int]): (Array[Int], Array[Array[Int]]) = {
    val sl1 = slen1(g.scalefacCompress)
    val sl2 = slen2(g.scalefacCompress)
    val sfl = new Array[Int](22)
    val sfs = Array.fill(13)(new Array[Int](3))
    if (g.windowSwitching && g.blockType == 2) {
      if (g.mixed == 1) {
        var sfb = 0
        while (sfb < 8) { sfl(sfb) = bits.read(sl1); sfb += 1 }
        sfb = 3
        while (sfb < 6) {
          var w = 0
          while (w < 3) { sfs(sfb)(w) = bits.read(sl1); w += 1 }
          sfb += 1
        }
        while (sfb < 12) {
          var w = 0
          while (w < 3) { sfs(sfb)(w) = bits.read(sl2); w += 1 }
          sfb += 1
        }
      } else {
        var sfb = 0
        while (sfb < 6) {
          var w = 0
          while (w < 3) { sfs(sfb)(w) = bits.read(sl1); w += 1 }
          sfb += 1
        }
        while (sfb < 12) {
          var w = 0
          while (w < 3) { sfs(sfb)(w) = bits.read(sl2); w += 1 }
          sfb += 1
        }
      }
    } else {
      // groups: (0,6,sl1) (6,11,sl1) (11,16,sl2) (16,21,sl2)
      val lo = Array(0, 6, 11, 16)
      val hi = Array(6, 11, 16, 21)
      val sl = Array(sl1, sl1, sl2, sl2)
      var gi = 0
      while (gi < 4) {
        if (gr == 1 && scfsi(gi) == 1) {
          var sfb = lo(gi)
          while (sfb < hi(gi)) { sfl(sfb) = prev(sfb); sfb += 1 }
        } else {
          var sfb = lo(gi)
          while (sfb < hi(gi)) { sfl(sfb) = bits.read(sl(gi)); sfb += 1 }
        }
        gi += 1
      }
    }
    (sfl, sfs)
  }

  private def readScalefacsLsf(bits: MsbReader, g: Gran): (Array[Int], Array[Array[Int]]) = {
    val sc = g.scalefacCompress
    var blk = 0
    val slen = new Array[Int](4)
    if (sc < 400) {
      slen(0) = (sc >> 4) / 5; slen(1) = (sc >> 4) % 5
      slen(2) = (sc % 16) >> 2; slen(3) = sc % 4
      blk = 0
    } else if (sc < 500) {
      val s = sc - 400
      slen(0) = (s >> 2) / 5; slen(1) = (s >> 2) % 5
      slen(2) = s % 4; slen(3) = 0
      blk = 1
    } else {
      val s = sc - 500
      slen(0) = s / 3; slen(1) = s % 3; slen(2) = 0; slen(3) = 0
      blk = 2
      g.preflag = 1
    }
    val bgroup = if (g.windowSwitching && g.blockType == 2) (if (g.mixed == 1) 2 else 1) else 0
    val nr = (blk match {
      case 0 => lsfNrSfb0
      case 1 => lsfNrSfb1
      case _ => lsfNrSfb2
    })(bgroup)
    val raw = mutable.ArrayBuffer.empty[Int]
    var part = 0
    while (part < 4) {
      var i = 0
      while (i < nr(part)) { raw += bits.read(slen(part)); i += 1 }
      part += 1
    }
    val sfl = new Array[Int](22)
    val sfs = Array.fill(13)(new Array[Int](3))
    if (g.windowSwitching && g.blockType == 2) {
      if (g.mixed == 1) {
        var sfb = 0
        while (sfb < 6) { sfl(sfb) = if (sfb < raw.length) raw(sfb) else 0; sfb += 1 }
        var k = 6
        sfb = 3
        while (sfb < 12) {
          var w = 0
          while (w < 3) {
            sfs(sfb)(w) = if (k < raw.length) raw(k) else 0
            k += 1
            w += 1
          }
          sfb += 1
        }
      } else {
        var k = 0
        var sfb = 0
        while (sfb < 12) {
          var w = 0
          while (w < 3) {
            sfs(sfb)(w) = if (k < raw.length) raw(k) else 0
            k += 1
            w += 1
          }
          sfb += 1
        }
      }
    } else {
      var sfb = 0
      val n = math.min(21, raw.length)
      while (sfb < n) { sfl(sfb) = raw(sfb); sfb += 1 }
    }
    (sfl, sfs)
  }

  // ---- huffman ----
  /** (length << 24 | code) -> (x << 8 | y) + 1 (0 = absent), lazily built
    * per lens/codes identity. */
  private val pairCache = new java.util.concurrent.ConcurrentHashMap[AnyRef, java.util.HashMap[Integer, Integer]]()

  private def pairIndex(lens: Array[Array[Int]], codes: Array[Array[Int]]): java.util.HashMap[Integer, Integer] = {
    val cached = pairCache.get(lens)
    if (cached != null) return cached
    val m = new java.util.HashMap[Integer, Integer]()
    var x = 0
    while (x < lens.length) {
      var y = 0
      while (y < lens(x).length) {
        m.put((lens(x)(y) << 24) | codes(x)(y), ((x << 8) | y) + 1)
        y += 1
      }
      x += 1
    }
    pairCache.putIfAbsent(lens, m)
    m
  }

  /** bit-serial codeword match; returns (x << 8 | y). */
  private def decodeCodeword(bits: MsbReader, idx: java.util.HashMap[Integer, Integer], limit: Int): Int = {
    var code = 0
    var length = 0
    while (true) {
      if (bits.bitPos >= limit) err("huffman codeword ran past part2_3_length")
      code = (code << 1) | bits.bit()
      length += 1
      val hit = idx.getOrDefault((length << 24) | code, 0)
      if (hit != 0) return hit - 1
      if (length > 19) err("invalid huffman codeword")
    }
    0 // unreachable
  }

  private def regionBoundaries(hd: Hdr, g: Gran): (Int, Int) = {
    val sfbL = sfbLong(hd.sampleRate)
    if (g.windowSwitching) {
      val r1 = if (g.blockType == 2 && g.mixed == 0) 36 else sfbL(8)
      (r1, 576)
    } else {
      val r1 = sfbL(math.min(g.region0Count + 1, 22))
      val r2 = sfbL(math.min(g.region0Count + 1 + g.region1Count + 1, 22))
      (r1, r2)
    }
  }

  /** returns (ix, zeroBound). */
  private def readHuffman(bits: MsbReader, hd: Hdr, g: Gran, part2Start: Int,
                          allowRepaired: Boolean): (Array[Int], Int) = {
    val limit = part2Start + g.part23
    val ix = new Array[Int](576)
    val (r1, r2) = regionBoundaries(hd, g)
    val nBig = g.bigValues * 2
    var i = 0
    while (i < nBig) {
      val region = if (i < r1) 0 else if (i < r2) 1 else 2
      val tsel = g.tableSelect(region)
      if (tsel == 4 || tsel == 14) err(s"reserved huffman table $tsel selected")
      if (!allowRepaired && repairedTables.contains(tsel))
        err(s"stream selects huffman table $tsel, whose codeword assignment " +
          "could not be third-party-verified in this build environment " +
          "(Mp3Tables.repairedTables) — decoding it would risk plausible-but-" +
          "wrong samples; tables 0-9/12 decode verified")
      val tab = bigValueTable(tsel)
      if (tab == null) {
        ix(i) = 0
        ix(i + 1) = 0
        i += 2
      } else {
        val (linbits, lens, codes) = tab
        val xy = decodeCodeword(bits, pairIndex(lens, codes), limit)
        var x = xy >> 8
        var y = xy & 0xff
        if (x == 15 && linbits > 0) x += bits.read(linbits)
        if (x != 0 && bits.bit() == 1) x = -x
        if (y == 15 && linbits > 0) y += bits.read(linbits)
        if (y != 0 && bits.bit() == 1) y = -y
        ix(i) = x
        ix(i + 1) = y
        i += 2
      }
    }
    // count1 region
    val c1Lens = if (g.count1Table == 1) Array(count1BLens) else Array(count1ALens)
    val c1Codes = if (g.count1Table == 1) Array(count1BCodes) else Array(count1ACodes)
    val c1Idx = pairIndex(c1Lens, c1Codes)
    var break = false
    while (!break && bits.bitPos < limit && i <= 572) {
      val mark = bits.bitPos
      var v = -1
      try v = decodeCodeword(bits, c1Idx, limit) & 0xff
      catch { case _: IllegalArgumentException => bits.bitPos = mark; break = true }
      if (!break) {
        val vals = Array((v >> 3) & 1, (v >> 2) & 1, (v >> 1) & 1, v & 1)
        var ok = true
        var q = 0
        while (ok && q < 4) {
          if (vals(q) != 0) {
            if (bits.bitPos >= limit) ok = false
            else if (bits.bit() == 1) vals(q) = -1
          }
          q += 1
        }
        if (!ok || bits.bitPos > limit) {
          bits.bitPos = mark
          break = true
        } else {
          var q2 = 0
          while (q2 < 4) { ix(i + q2) = vals(q2); q2 += 1 }
          i += 4
        }
      }
    }
    bits.bitPos = limit
    (ix, i)
  }

  // ---- requantize / reorder ----
  private def requantize(hd: Hdr, g: Gran, sfl: Array[Int],
                         sfs: Array[Array[Int]], ix: Array[Int]): Array[Double] = {
    val xr = new Array[Double](576)
    val sfbL = sfbLong(hd.sampleRate)
    val sfbS = sfbShort(hd.sampleRate)
    val sfUnit = if (g.scalefacScale == 1) 4 else 2
    if (g.windowSwitching && g.blockType == 2) {
      val longEnd = if (g.mixed == 1) sfbL(8) else 0
      var i = 0
      while (i < longEnd) {
        var sfb = 0
        while (sfbL(sfb + 1) <= i) sfb += 1
        val k = (g.globalGain - 210) - sfUnit * (sfl(sfb) + (if (g.preflag == 1) pretab(sfb) else 0))
        val mul = gainPow2Quarter(k)
        val v = ix(i)
        xr(i) = (if (v < 0) -pow43(-v) else pow43(v)) * mul
        i += 1
      }
      var sfb = if (g.mixed == 1) 3 else 0
      i = longEnd
      while (i < 576 && sfb < 13) {
        val width = sfbS(sfb + 1) - sfbS(sfb)
        var w = 0
        while (w < 3) {
          val k = (g.globalGain - 210 - 8 * g.subblockGain(w)) -
            sfUnit * (if (sfb < 12) sfs(sfb)(w) else 0)
          val mul = gainPow2Quarter(k)
          var s = 0
          while (s < width && i < 576) {
            val v = ix(i)
            xr(i) = (if (v < 0) -pow43(-v) else pow43(v)) * mul
            i += 1
            s += 1
          }
          w += 1
        }
        sfb += 1
      }
      // rest stays zero
    } else {
      var i = 0
      while (i < 576) {
        var sfb = 0
        while (sfb < 21 && sfbL(sfb + 1) <= i) sfb += 1
        val sf = if (sfb < 21) sfl(sfb) else sfl(21)
        val k = (g.globalGain - 210) - sfUnit * (sf + (if (g.preflag == 1) pretab(sfb) else 0))
        val mul = gainPow2Quarter(k)
        val v = ix(i)
        xr(i) = (if (v < 0) -pow43(-v) else pow43(v)) * mul
        i += 1
      }
    }
    xr
  }

  private def reorderShort(hd: Hdr, g: Gran, xr: Array[Double]): Array[Double] = {
    if (!(g.windowSwitching && g.blockType == 2)) return xr
    val sfbS = sfbShort(hd.sampleRate)
    val out = xr.clone()
    val startSfb = if (g.mixed == 1) 3 else 0
    val base = if (g.mixed == 1) sfbLong(hd.sampleRate)(8) else 0
    var i = base
    var sfb = startSfb
    var break = false
    while (!break && sfb < 13) {
      val width = sfbS(sfb + 1) - sfbS(sfb)
      if (i + 3 * width > 576) break = true
      else {
        var w = 0
        while (w < 3) {
          var s = 0
          while (s < width) {
            out(i + s * 3 + w) = xr(i + w * width + s)
            s += 1
          }
          w += 1
        }
        i += 3 * width
        sfb += 1
      }
    }
    out
  }

  // ---- stereo ----
  private def applyStereo(hd: Hdr, gR: Gran, xl: Array[Double],
                          xrCh: Array[Double], zbR: Int): Unit = {
    val ms = hd.mode == 1 && (hd.modeExt & 2) != 0
    val intensity = hd.mode == 1 && (hd.modeExt & 1) != 0
    var iBound = 576
    if (intensity) {
      if (hd.lsf) err("LSF intensity stereo not supported")
      if (gR.windowSwitching && gR.blockType == 2)
        err("intensity stereo with short blocks not supported")
      val sfbL = sfbLong(hd.sampleRate)
      var sfb = 21
      var stop = false
      while (!stop && sfb >= 0) {
        if (sfbL(sfb) >= zbR) iBound = sfbL(sfb) else stop = true
        sfb -= 1
      }
    }
    if (ms) {
      var i = 0
      while (i < iBound) {
        val m = xl(i)
        val s = xrCh(i)
        xl(i) = (m + s) * sqrt2Inv
        xrCh(i) = (m - s) * sqrt2Inv
        i += 1
      }
    }
    if (intensity) {
      val sfbL = sfbLong(hd.sampleRate)
      var sfb = 0
      while (sfb < 22) {
        val lo = sfbL(sfb)
        val hi = if (sfb < 22) sfbL(sfb + 1) else 576
        if (lo >= iBound) {
          val isPos = if (sfb < 21) gR.sfLong(sfb) else gR.sfLong(20)
          if (isPos < 7) {
            val ratio = isRatio(isPos)
            val kl = ratio / (1.0 + ratio)
            val kr = 1.0 / (1.0 + ratio)
            var i = lo
            while (i < hi) {
              val v = xl(i)
              xl(i) = v * kl
              xrCh(i) = v * kr
              i += 1
            }
          }
        }
        sfb += 1
      }
    }
  }

  // ---- alias reduction / IMDCT / synthesis ----
  private def aliasReduce(g: Gran, xr: Array[Double]): Unit = {
    if (g.windowSwitching && g.blockType == 2 && g.mixed == 0) return
    val nb = if (g.windowSwitching && g.blockType == 2 && g.mixed == 1) 1 else 31
    var sb = 0
    while (sb < nb) {
      val base = 18 * sb + 17
      var k = 0
      while (k < 8) {
        val lo = base - k
        val hi = base + 1 + k
        val a = xr(lo)
        val b = xr(hi)
        xr(lo) = a * aliasCs(k) - b * aliasCa(k)
        xr(hi) = b * aliasCs(k) + a * aliasCa(k)
        k += 1
      }
      sb += 1
    }
  }

  private def imdctGranule(g: Gran, xr: Array[Double],
                           overlap: Array[Array[Double]]): Array[Array[Double]] = {
    val out = Array.ofDim[Double](32, 18)
    var sb = 0
    while (sb < 32) {
      val bt = if (g.windowSwitching && !(g.mixed == 1 && sb < 2)) g.blockType else 0
      val off = 18 * sb
      val raw = new Array[Double](36)
      if (bt == 2) {
        var w = 0
        while (w < 3) {
          var i = 0
          while (i < 12) {
            var s = 0.0
            val row = imdct12(i)
            var k = 0
            while (k < 6) {
              s += xr(off + w + 3 * k) * row(k)
              k += 1
            }
            raw(6 + 6 * w + i) += s * win(2)(i)
            i += 1
          }
          w += 1
        }
      } else {
        val wv = win(bt)
        var i = 0
        while (i < 36) {
          var s = 0.0
          val row = imdct36(i)
          var k = 0
          while (k < 18) {
            s += xr(off + k) * row(k)
            k += 1
          }
          raw(i) = s * wv(i)
          i += 1
        }
      }
      val ov = overlap(sb)
      var i = 0
      while (i < 18) {
        out(sb)(i) = raw(i) + ov(i)
        ov(i) = raw(18 + i)
        i += 1
      }
      sb += 1
    }
    // frequency inversion: odd subbands, odd time samples
    var sb2 = 1
    while (sb2 < 32) {
      val row = out(sb2)
      var i = 1
      while (i < 18) { row(i) = -row(i); i += 2 }
      sb2 += 2
    }
    out
  }

  /** one synthesis step: 32 subband samples -> 32 PCM doubles. Returns the
    * new ring offset. */
  private def synthStep(v: Array[Double], off0: Int, s32: Array[Double],
                        out: Array[Double], outPos: Int): Int = {
    val off = (off0 - 64) & 1023
    var i = 0
    while (i < 64) {
      var acc = 0.0
      val row = synthN(i)
      var k = 0
      while (k < 32) {
        acc += row(k) * s32(k)
        k += 1
      }
      v((off + i) & 1023) = acc
      i += 1
    }
    var j = 0
    while (j < 32) {
      var acc = 0.0
      var b = 0
      while (b < 8) {
        acc += synthD(j + (b << 6)) * v((off + (b << 7) + j) & 1023)
        acc += synthD(j + (b << 6) + 32) * v((off + (b << 7) + 96 + j) & 1023)
        b += 1
      }
      out(outPos + j) = acc
      j += 1
    }
    off
  }

  // ---- top level ----
  private def skipId3(b: Array[Byte]): Int =
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      10 + size
    } else 0

  /** true when the payload walks as a Layer III MPEG-1/2 stream. */
  def isMp3(bytes: Array[Byte]): Boolean = {
    var pos = skipId3(bytes)
    val in = ByteCursor(bytes)
    try {
      while (pos + 4 <= bytes.length && parseHeader(in, pos) == null) pos += 1
      val hd = parseHeader(in, pos)
      hd != null && pos + hd.frameLen <= bytes.length
    } catch { case _: IllegalArgumentException => false }
  }

  /** Full decode to per-channel doubles, mirroring decoder.py `decode`.
    *
    * `allowRepaired = false` (the user-facing default) names an error when
    * the stream selects one of [[Mp3Tables.repairedTables]] — the Huffman
    * tables whose codeword assignments could not be verified against any
    * third-party codec in this sandbox — instead of risking plausible-but-
    * wrong samples (the silent-garbage failure mode the named-error
    * contract exists to prevent). This repo's own fixtures pass `true`:
    * they were produced by the sibling encoder sharing these exact tables,
    * so they are correct by construction and pinned by digest. */
  def decodeChannels(data: Array[Byte], allowRepaired: Boolean = false): (Int, Array[Array[Double]]) = {
    var pos = skipId3(data)
    val reservoir = new java.io.ByteArrayOutputStream()
    var sr = -1
    var nch = -1
    val outCh = Array.fill(2)(mutable.ArrayBuffer.empty[Double])
    val overlap = Array.fill(2, 32)(new Array[Double](18))
    val vState = Array.fill(2)(new Array[Double](1024))
    val vOff = Array(0, 0)
    val prevSf = Array.fill(2)(new Array[Int](22))
    var frames = 0
    var done = false
    val in = ByteCursor(data)
    while (!done) {
      while (pos + 4 <= data.length && parseHeader(in, pos) == null) pos += 1
      val hd = parseHeader(in, pos)
      if (hd == null || pos + hd.frameLen > data.length) done = true
      else {
        if (sr < 0) { sr = hd.sampleRate; nch = hd.channels }
        else if (hd.sampleRate != sr || hd.channels != nch)
          err("sample rate / channel change mid-stream")
        val sideLen = if (hd.lsf) (if (nch == 1) 9 else 17) else (if (nch == 1) 17 else 32)
        val off = pos + 4 + (if (hd.crc) 2 else 0)
        val si = parseSideInfo(hd, new MsbReader(data, off, data.length, pastArray))
        val mainThis = java.util.Arrays.copyOfRange(data, off + sideLen, pos + hd.frameLen)
        val mdb = si.mainDataBegin
        val res = reservoir.toByteArray
        if (res.length >= mdb) {
          val main = new Array[Byte](mdb + mainThis.length)
          System.arraycopy(res, res.length - mdb, main, 0, mdb)
          System.arraycopy(mainThis, 0, main, mdb, mainThis.length)
          val bits = new MsbReader(main, 0, main.length, pastArray)
          val ngr = if (hd.lsf) 1 else 2
          var gr = 0
          while (gr < ngr) {
            val grs = si.granules(gr)
            val zbs = new Array[Int](2)
            val xrs = new Array[Array[Double]](2)
            var ch = 0
            while (ch < nch) {
              val g = grs(ch)
              val part2Start = bits.bitPos
              // bit reads are bounded only by the array, so a corrupt length
              // is named here (a bounds error raised as an
              // IllegalArgumentException would be swallowed by the count1
              // loop's catch)
              if (part2Start + g.part23 > main.length * 8)
                err(s"part2_3_length ${g.part23} exceeds the " +
                  s"${main.length * 8 - part2Start} main-data bits left in reservoir + frame")
              val (sfl, sfs) =
                if (hd.lsf) {
                  if (hd.mode == 1 && (hd.modeExt & 1) != 0 && ch == 1)
                    err("LSF intensity stereo not supported")
                  readScalefacsLsf(bits, g)
                } else readScalefacsMpeg1(bits, g, si.scfsi(ch), gr, prevSf(ch))
              g.sfLong = sfl
              if (!hd.lsf) prevSf(ch) = sfl
              val (ix, zb) = readHuffman(bits, hd, g, part2Start, allowRepaired)
              zbs(ch) = zb
              xrs(ch) = reorderShort(hd, g, requantize(hd, g, sfl, sfs, ix))
              ch += 1
            }
            if (nch == 2) applyStereo(hd, grs(1), xrs(0), xrs(1), zbs(1))
            ch = 0
            while (ch < nch) {
              val g = grs(ch)
              aliasReduce(g, xrs(ch))
              val sub = imdctGranule(g, xrs(ch), overlap(ch))
              val s32 = new Array[Double](32)
              val pcm = new Array[Double](32)
              var t = 0
              while (t < 18) {
                var sb = 0
                while (sb < 32) { s32(sb) = sub(sb)(t); sb += 1 }
                vOff(ch) = synthStep(vState(ch), vOff(ch), s32, pcm, 0)
                outCh(ch) ++= pcm
                t += 1
              }
              ch += 1
            }
            gr += 1
          }
        } else {
          // reservoir underrun at stream start: mute this frame
          val n = if (hd.lsf) 576 else 1152
          var ch = 0
          while (ch < nch) {
            outCh(ch) ++= Array.fill(n)(0.0)
            ch += 1
          }
        }
        reservoir.write(mainThis)
        if (reservoir.size > 4096) {
          val all = reservoir.toByteArray
          reservoir.reset()
          reservoir.write(all, all.length - 4096, 4096)
        }
        pos += hd.frameLen
        frames += 1
      }
    }
    if (frames == 0) err("no MPEG audio frames found")
    (sr, Array.tabulate(nch)(c => outCh(c).toArray))
  }

  /** Decode to the convert surface's interleaved int16 [[AudioConvert.AudioBuf]],
    * with the exact rounding the Python reference pins (floor(x*32768+0.5),
    * clamp to int16). See [[decodeChannels]] for `allowRepaired`. */
  def decodeSamples(bytes: Array[Byte], allowRepaired: Boolean = false): AudioConvert.AudioBuf = {
    val (sr, chans) = decodeChannels(bytes, allowRepaired)
    val nch = chans.length
    val n = chans(0).length
    val pcm = new Array[Int](n * nch)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < nch) {
        val x = chans(c)(i) * 32768.0
        var v = math.floor(x + 0.5).toInt
        if (v > 32767) v = 32767 else if (v < -32768) v = -32768
        pcm(i * nch + c) = v
        c += 1
      }
      i += 1
    }
    AudioConvert.AudioBuf(nch, sr, 16, pcm)
  }
}
