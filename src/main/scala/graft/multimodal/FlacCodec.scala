package graft.multimodal

import graft.multimodal.AudioConvert.AudioBuf
import graft.util.{BitReader, ByteSink, Crc, MsbReader, MsbWriter}

/** FLAC codec — the `.flac` arm of the reference's audio output whitelist
  * (/root/reference/src/converters/audio_converters.py:45-47 and the
  * `compression_level` export kwarg at :95-99). FLAC is the one remaining
  * audio output format achievable losslessly in pure JVM: mp3/ogg/aac/
  * opus/wma need the DSP codecs the reference delegates to ffmpeg.
  *
  * ENCODE writes real compressed frames: per-channel subframe search over
  * CONSTANT / VERBATIM / FIXED predictors (orders 0-4, the spec's closed
  * polynomial family) with Rice-coded residuals, stereo decorrelation by
  * cost (left-side / right-side / mid-side channel assignments — the big
  * stereo win: correlated channels make the side channel nearly silent),
  * fixed 4096-sample blocks, UTF-8 frame numbers, CRC-8 header + CRC-16
  * frame checks, and the unencoded-PCM MD5 in STREAMINFO.
  * `compression_level` maps to the predictor search depth (level N caps
  * the fixed order at min(N,4); level 0 still entropy-codes, like flac's
  * own -0 — fastest, not a store mode) — the same knob shape pydub
  * forwards to flac.
  *
  * DECODE walks general FLAC frames: any blocksize/rate code, both Rice
  * methods (4- and 5-bit params) incl. escape partitions and partition
  * orders > 0, fixed orders 0-4, LPC subframes (the quantized predictor
  * is carried in the stream — only LPC *encode* needs Levinson-Durbin),
  * all three decorrelated stereo assignments, and wasted bits.
  * 12/20/24/32-bit depths are NAMED errors — never wrong samples (the
  * AudioBuf surface is 8/16-bit PCM). Every frame's CRC-16 is
  * verified, and the decoded stream's MD5 must match STREAMINFO when
  * present, so an encoder/decoder convention drift cannot round-trip
  * silently (the MD5 is computed from the SOURCE samples before any bit
  * packing).
  *
  * Layout refs: frame/subframe/residual structure per the published FLAC
  * format spec (RFC 9639); metadata blocks shared with
  * [[MediaCodecs.parseFlac]].
  */
object FlacCodec {

  private val BlockSize = 4096

  // ---- FLAC's codes on top of the shared MSB-first bit IO --------------------

  private val truncated = BitReader.requireFailed("FLAC stream truncated")

  /** Rice: unary quotient (q zeros, then 1) + k LSBs of the folded value. */
  private[graft] def putRice(w: MsbWriter, residual: Int, k: Int): Unit = {
    val fold = ((residual.toLong << 1) ^ (residual.toLong >> 63))
    var left = (fold >>> k).toInt
    while (left >= 32) { w.put(0, 32); left -= 32 }
    w.put(1, left + 1) // `left` zeros then the terminating 1
    w.put(fold & ((1L << k) - 1), k)
  }
  private def readUnary(in: MsbReader): Int = {
    var q = 0
    while (in.bit() == 0) { q += 1; require(q < (1 << 24), "runaway unary") }
    q
  }
  private def readRice(in: MsbReader, k: Int): Int = {
    val fold = (readUnary(in).toLong << k) | in.readLong(k)
    ((fold >>> 1) ^ -(fold & 1)).toInt
  }

  // ---- shared small pieces ---------------------------------------------------

  /** FLAC's extended-UTF-8 coding of frame/sample numbers. */
  private def utf8Encode(w: MsbWriter, value: Long): Unit = {
    require(value >= 0)
    if (value < 0x80) w.put(value, 8)
    else {
      var bytes = 2
      while (bytes < 7 && value >= (1L << (bytes * 5 + 1))) bytes += 1
      w.put((0xfe << (7 - bytes)) & 0xff | (value >>> ((bytes - 1) * 6)).toInt, 8)
      for (k <- bytes - 2 to 0 by -1) w.put(0x80 | ((value >>> (k * 6)) & 0x3f), 8)
    }
  }
  private def utf8Decode(in: MsbReader): Long = {
    val first = in.read(8)
    if ((first & 0x80) == 0) first.toLong
    else {
      var bytes = 0
      var mask = 0x40
      while ((first & mask) != 0) { bytes += 1; mask >>= 1 }
      require(bytes >= 1 && bytes <= 6, "bad UTF-8 frame number")
      var v = (first & (mask - 1)).toLong
      for (_ <- 0 until bytes) {
        val cont = in.read(8)
        require((cont & 0xc0) == 0x80, "bad UTF-8 continuation in frame number")
        v = (v << 6) | (cont & 0x3f)
      }
      v
    }
  }

  private def md5Pcm(samples: Array[Int], bits: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bp = bits / 8
    val buf = new Array[Byte](samples.length * bp)
    var i = 0
    while (i < samples.length) {
      buf(i * bp) = samples(i).toByte // little-endian; 8-bit is one signed byte
      if (bp == 2) buf(i * bp + 1) = (samples(i) >> 8).toByte
      i += 1
    }
    md.digest(buf)
  }

  private def riceCost(res: Array[Int], from: Int, k: Int): Long = {
    var bits = 0L
    var i = from
    while (i < res.length) {
      val fold = (res(i).toLong << 1) ^ (res(i).toLong >> 63)
      bits += (fold >>> k) + 1 + k
      i += 1
    }
    bits
  }

  private def bestRiceK(res: Array[Int], from: Int): (Int, Long) = {
    var bestK = 0
    var best = Long.MaxValue
    var k = 0
    while (k <= 14) {
      val c = riceCost(res, from, k)
      if (c < best) { best = c; bestK = k }
      k += 1
    }
    (bestK, best)
  }

  // ---- encode ---------------------------------------------------------------

  /** Encode PCM as FLAC. `level` 0-8: fixed-predictor search depth
    * min(level, 4) — level 0 still entropy-codes (order-0 Rice where it
    * beats verbatim, like flac's own -0: fastest, not a store mode).
    * `tags` become a VORBIS_COMMENT block ([[MediaCodecs.parseFlac]] reads
    * them back). Zero-sample PCM is a valid stream: STREAMINFO only, no
    * frames (the wav/aiff arms encode empty clips too). */
  def encode(buf: AudioBuf, level: Int = 5,
             tags: Seq[(String, String)] = Nil): Array[Byte] = {
    require(level >= 0 && level <= 8, s"FLAC compression level $level out of 0-8")
    require(buf.bits == 8 || buf.bits == 16,
      s"FLAC encode takes 8/16-bit PCM, got ${buf.bits}")
    require(buf.channels >= 1 && buf.channels <= 8, s"FLAC channels ${buf.channels}")
    require(buf.frameRate >= 1 && buf.frameRate < (1 << 20), s"rate ${buf.frameRate}")
    val frames = buf.frames
    val maxOrder = math.min(level, 4)
    val bps = buf.bits

    val out = new ByteSink()
    out.write("fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // STREAMINFO (34 bytes), last-block flag set iff no tags follow.
    // The declared blocksize must sit in the spec's 16-65535 range even
    // for sub-16-sample clips — a single short frame is legal (it is the
    // LAST frame), a sub-16 STREAMINFO blocksize is not.
    val si = new MsbWriter
    val block = math.max(16, math.min(BlockSize, frames))
    si.put(block, 16); si.put(block, 16) // min/max blocksize (last may be shorter)
    si.put(0, 24); si.put(0, 24)         // min/max frame size unknown
    si.put(buf.frameRate, 20)
    si.put(buf.channels - 1, 3)
    si.put(bps - 1, 5)
    si.put(frames, 36)
    val siBytes = si.toBytes
    out.write(if (tags.isEmpty) 0x80 else 0x00)
    out.u24be(34)
    out.write(siBytes, 0, siBytes.length)
    out.write(md5Pcm(buf.samples, bps), 0, 16)
    if (tags.nonEmpty) {
      // VORBIS_COMMENT: little-endian length prefixes (the one LE island)
      val vc = new ByteSink()
      val vendor = "graft".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      vc.u32le(vendor.length); vc.write(vendor, 0, vendor.length)
      vc.u32le(tags.length)
      for ((k, v) <- tags) {
        val e = s"$k=$v".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        vc.u32le(e.length); vc.write(e, 0, e.length)
      }
      val body = vc.toByteArray
      out.write(0x80 | 4) // last block, type 4
      out.u24be(body.length)
      out.write(body, 0, body.length)
    }

    val ch = buf.channels
    var frameIdx = 0L
    var done = 0
    while (done < frames) {
      val n = math.min(BlockSize, frames - done)
      val chans = Array.tabulate(ch) { c =>
        val x = new Array[Int](n)
        var i = 0
        while (i < n) { x(i) = buf.samples((done + i) * ch + c); i += 1 }
        x
      }
      // stereo decorrelation (spec channel assignments 8/9/10): plan all
      // four layouts and keep the cheapest — correlated channels make the
      // side channel (l-r, one extra bit deep) nearly silent, the big
      // stereo win real encoders get; fully independent content falls
      // back to assignment ch-1 by cost
      var assign = ch - 1
      var emitChans = chans
      var emitBits = Array.fill(ch)(bps)
      var plans = chans.map(x => planSubframe(x, bps, maxOrder))
      if (ch == 2) {
        val l = chans(0)
        val r = chans(1)
        val side = new Array[Int](n)
        val mid = new Array[Int](n)
        var i = 0
        while (i < n) { side(i) = l(i) - r(i); mid(i) = (l(i) + r(i)) >> 1; i += 1 }
        val pS = planSubframe(side, bps + 1, maxOrder)
        val pM = planSubframe(mid, bps, maxOrder)
        val cands = Seq(
          (1, Array(l, r), Array(bps, bps), Array(plans(0), plans(1))),
          (8, Array(l, side), Array(bps, bps + 1), Array(plans(0), pS)),
          (9, Array(side, r), Array(bps + 1, bps), Array(pS, plans(1))),
          (10, Array(mid, side), Array(bps, bps + 1), Array(pM, pS)))
        val best = cands.minBy(_._4.map(_.cost).sum)
        assign = best._1; emitChans = best._2; emitBits = best._3; plans = best._4
      }
      val w = new MsbWriter
      w.put(0x3ffe, 14) // sync
      w.put(0, 1)       // reserved
      w.put(0, 1)       // fixed blocksize strategy
      w.put(0x7, 4)     // blocksize: 16-bit at end of header
      w.put(0, 4)       // sample rate: from STREAMINFO
      w.put(assign, 4)  // independent count-1, or 8/9/10 decorrelated
      w.put(if (bps == 8) 1 else 4, 3)
      w.put(0, 1)
      utf8Encode(w, frameIdx)
      w.put(n - 1, 16)
      val headBytes = w.toBytes // byte-aligned by construction
      val frame = new MsbWriter
      for (b <- headBytes) frame.put(b & 0xff, 8)
      frame.put(Crc.flac8(headBytes, 0, headBytes.length), 8)

      var c = 0
      while (c < ch) {
        emitSubframe(frame, emitChans(c), emitBits(c), plans(c))
        c += 1
      }
      frame.alignByte()
      val body = frame.toBytes
      out.write(body, 0, body.length)
      val c16 = Crc.flac16(body, 0, body.length)
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      done += n
      frameIdx += 1
    }
    out.toByteArray
  }

  /** A planned subframe: kind -1 = constant, -2 = verbatim, >=0 = fixed
    * order, with the chosen rice parameter, the winning residual array,
    * and the total bit cost (payload + subframe header). */
  private final case class SubPlan(kind: Int, k: Int, res: Array[Int], cost: Long)

  /** Cost out the best CONSTANT / VERBATIM / FIXED-order subframe for one
    * channel without emitting a bit: each order's residuals are ONE
    * differencing pass over the previous order's (the fixed-predictor
    * family is iterated differencing), and the winner's array is kept —
    * no recomputation on the hot per-block path. */
  private def planSubframe(x: Array[Int], bps: Int, maxOrder: Int): SubPlan = {
    val n = x.length
    var allEqual = true
    var i = 1
    while (allEqual && i < n) { allEqual = x(i) == x(0); i += 1 }
    if (allEqual) return SubPlan(-1, 0, x, 8L + bps)
    val top = math.min(maxOrder, n - 1)
    var best = SubPlan(-2, 0, x, 8L + n.toLong * bps) // verbatim
    var cur = x
    var o = 0
    while (o <= top) {
      val (k, riceBits) = bestRiceK(cur, o)
      val cost = 8L + o.toLong * bps + 2 + 4 + 4 + riceBits
      if (cost < best.cost) best = SubPlan(o, k, cur, cost)
      if (o < top) {
        val next = new Array[Int](n)
        var j = n - 1
        while (j >= 1) { next(j) = cur(j) - cur(j - 1); j -= 1 }
        cur = next
      }
      o += 1
    }
    best
  }

  private def emitSubframe(w: MsbWriter, x: Array[Int], bps: Int,
                           plan: SubPlan): Unit = {
    val n = x.length
    if (plan.kind == -1) {
      w.put(0, 1); w.put(0, 6); w.put(0, 1) // CONSTANT
      w.putSigned(x(0), bps)
    } else if (plan.kind == -2) {
      w.put(0, 1); w.put(1, 6); w.put(0, 1) // VERBATIM
      var j = 0
      while (j < n) { w.putSigned(x(j), bps); j += 1 }
    } else {
      val order = plan.kind
      w.put(0, 1); w.put(8 + order, 6); w.put(0, 1) // FIXED order
      var j = 0
      while (j < order) { w.putSigned(x(j), bps); j += 1 }
      w.put(0, 2)       // residual method: rice, 4-bit params
      w.put(0, 4)       // partition order 0
      w.put(plan.k, 4)
      j = order
      while (j < n) { putRice(w, plan.res(j), plan.k); j += 1 }
    }
  }

  // ---- decode ---------------------------------------------------------------

  /** Decode a FLAC stream's samples: constant/verbatim/fixed/LPC
    * subframes, decorrelated stereo, wasted bits; exotic depths are named
    * errors. CRC-16 verified per frame; MD5 verified against STREAMINFO
    * when present. */
  def decodeSamples(bytes: Array[Byte]): AudioBuf = {
    require(MediaCodecs.isFlac(bytes), "not a FLAC payload")
    val meta = MediaCodecs.parseFlac(bytes) // validates blocks, rate, bps
    require(meta.bitsPerSample == 8 || meta.bitsPerSample == 16,
      s"FLAC ${meta.bitsPerSample}-bit depth outside the 8/16 PCM contract")
    var at = meta.frameDataOffset
    if (meta.totalSamples == 0) {
      // 0 is the spec's "unknown" — but a stream with no frames at all is
      // a legitimately EMPTY clip (our encoder writes it for empty PCM)
      require(at >= bytes.length,
        "FLAC with unknown total samples (frames present) unsupported")
      return AudioBuf(meta.channels, meta.sampleRate, meta.bitsPerSample,
        Array.empty[Int])
    }
    val ch = meta.channels
    val bps = meta.bitsPerSample
    val total = meta.totalSamples
    // STREAMINFO is attacker-controlled and this allocation happens BEFORE
    // any frame sync-checks, so the gate must count the actual Array[Int]
    // entries (frames × channels) under the same 16M-sample cap as every
    // other audio decode path — a frames-only 2^26 bound would let a
    // 50-byte payload claim 8 channels and demand a 2 GiB array
    require(total * ch <= (1L << 24),
      s"FLAC payload of ${total * ch} samples exceeds the 16M-sample decode cap")
    val samples = new Array[Int](total.toInt * ch)
    var done = 0L
    while (done < total) {
      val in = new MsbReader(bytes, at, bytes.length, truncated)
      require(in.read(14) == 0x3ffe, s"lost FLAC frame sync at byte $at")
      require(in.read(1) == 0, "reserved frame-header bit set")
      in.read(1) // blocking strategy: frame vs sample number, both fine
      val bsCode = in.read(4)
      val srCode = in.read(4)
      val chCode = in.read(4)
      require(chCode <= 10, s"reserved channel assignment $chCode")
      val decorrelated = chCode >= 8
      val frameCh = if (decorrelated) 2 else chCode + 1
      require(frameCh == ch, s"frame channels $frameCh != STREAMINFO $ch")
      val ssCode = in.read(3)
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8
        case 4 => 16
        case c => throw new IllegalArgumentException(
          s"FLAC sample-size code $c outside the 8/16 PCM contract")
      }
      require(frameBps == bps, s"frame bps $frameBps != STREAMINFO $bps")
      require(in.read(1) == 0, "reserved frame-header bit set")
      utf8Decode(in)
      val blockSize = bsCode match {
        case 0 => throw new IllegalArgumentException("reserved blocksize code")
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => in.read(8) + 1
        case 7 => in.read(16) + 1
        case c => 256 << (c - 8)
      }
      srCode match {
        case 12 => in.read(8)
        case 13 | 14 => in.read(16)
        case 15 => throw new IllegalArgumentException("invalid sample-rate code")
        case _ => () // table / from-STREAMINFO codes carry no payload
      }
      require((in.bitPos & 7) == 0, "FLAC frame header not byte-aligned")
      val headEnd = in.bitPos >> 3 // header is byte-aligned before the CRC byte
      require(in.read(8) == Crc.flac8(bytes, at, headEnd), "FLAC header CRC-8 mismatch")
      require(done + blockSize <= total, "FLAC frames overrun STREAMINFO total")
      // the side channel of a decorrelated pair is one bit deeper (it
      // carries l-r); which subframe is the side one depends on the code
      val sideIdx = chCode match {
        case 8 | 10 => 1
        case 9 => 0
        case _ => -1
      }
      val decoded = Array.tabulate(ch) { c =>
        readSubframe(in, blockSize, if (c == sideIdx) bps + 1 else bps)
      }
      if (decorrelated) {
        // spec reconstruction: 8 = left/side, 9 = side/right, 10 = mid/side
        // (mid = (l+r)>>1 floor; l+r's dropped LSB is side's parity)
        var i = 0
        while (i < blockSize) {
          val (l, r) = chCode match {
            case 8 => (decoded(0)(i), decoded(0)(i) - decoded(1)(i))
            case 9 => (decoded(1)(i) + decoded(0)(i), decoded(1)(i))
            case _ =>
              val mid2 = (decoded(0)(i) << 1) | (decoded(1)(i) & 1)
              ((mid2 + decoded(1)(i)) >> 1, (mid2 - decoded(1)(i)) >> 1)
          }
          samples(((done + i) * 2).toInt) = l
          samples(((done + i) * 2 + 1).toInt) = r
          i += 1
        }
      } else {
        var c = 0
        while (c < ch) {
          var i = 0
          while (i < blockSize) {
            samples(((done + i) * ch + c).toInt) = decoded(c)(i)
            i += 1
          }
          c += 1
        }
      }
      in.alignByte()
      val bodyEnd = in.bitPos >> 3
      require(in.read(16) == Crc.flac16(bytes, at, bodyEnd), "FLAC frame CRC-16 mismatch")
      at = in.bitPos >> 3
      done += blockSize
    }
    val want = new Array[Byte](16)
    System.arraycopy(bytes, metaMd5Offset(bytes), want, 0, 16)
    if (want.exists(_ != 0))
      require(java.util.Arrays.equals(md5Pcm(samples, bps), want),
        "decoded PCM fails the STREAMINFO MD5 — corrupt or misdecoded stream")
    AudioBuf(ch, meta.sampleRate, bps, samples)
  }

  /** Offset of STREAMINFO's MD5 field (STREAMINFO is always first). */
  private def metaMd5Offset(bytes: Array[Byte]): Int = 4 + 4 + 18

  /** The fixed predictors' constant coefficient sets (RFC 9639): fixed
    * order o is LPC with these weights and shift 0. */
  private val FixedCoefs: Array[Array[Int]] = Array(
    Array.empty, Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  private def readSubframe(in: MsbReader, n: Int, fullBps: Int): Array[Int] = {
    require(in.read(1) == 0, "subframe padding bit set")
    val tpe = in.read(6)
    // wasted bits: samples are stored shifted right by `wasted` (the flag
    // is followed by unary-coded wasted-1) and shifted back after decode
    val wasted = if (in.read(1) == 1) readUnary(in) + 1 else 0
    require(wasted < fullBps, s"$wasted wasted bits leave no sample bits")
    val bps = fullBps - wasted
    val x: Array[Int] = if (tpe == 0) {
      val v = in.readSigned(bps)
      Array.fill(n)(v)
    } else if (tpe == 1) {
      Array.fill(n)(in.readSigned(bps))
    } else if ((tpe >= 8 && tpe <= 12) || tpe >= 32) {
      // one reconstruction path for FIXED and LPC: fixed orders 0-4 ARE
      // LPC with the spec's constant coefficient sets and shift 0, while
      // a true LPC subframe carries its quantized predictor IN the stream
      // (so decode needs no model of its own — only the ENCODE side,
      // Levinson-Durbin, is out of scope here)
      val order = if (tpe < 32) tpe - 8 else (tpe & 31) + 1
      require(order <= n, s"predictor order $order exceeds blocksize $n")
      val x = new Array[Int](n)
      var i = 0
      while (i < order) { x(i) = in.readSigned(bps); i += 1 }
      val (qlp, shift) =
        if (tpe < 32) (FixedCoefs(order), 0)
        else {
          val precision = in.read(4) + 1
          require(precision <= 15, "invalid LPC coefficient precision 16")
          val sh = in.readSigned(5)
          require(sh >= 0, s"negative LPC shift $sh")
          (Array.fill(order)(in.readSigned(precision)), sh)
        }
      val res = new Array[Int](n)
      readResiduals(in, n, order, res)
      i = order
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += qlp(j).toLong * x(i - 1 - j); j += 1 }
        val v = (acc >> shift) + res(i)
        require(v >= Int.MinValue && v <= Int.MaxValue, "prediction overflow")
        x(i) = v.toInt
        i += 1
      }
      x
    } else throw new IllegalArgumentException(s"reserved subframe type $tpe")
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
    x
  }

  private def readResiduals(in: MsbReader, n: Int, order: Int,
                            res: Array[Int]): Unit = {
    val method = in.read(2)
    require(method <= 1, s"reserved residual method $method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = in.read(4)
    val parts = 1 << partOrder
    require(n % parts == 0, "blocksize not divisible by partition count")
    val perPart = n / parts
    require(perPart > order || partOrder == 0, "first partition shorter than order")
    var p = 0
    var i = order
    while (p < parts) {
      val count = if (p == 0) perPart - order else perPart
      val k = in.read(paramBits)
      if (k == escape) {
        val raw = in.read(5)
        var j = 0
        while (j < count) { res(i) = if (raw == 0) 0 else in.readSigned(raw); i += 1; j += 1 }
      } else {
        var j = 0
        while (j < count) { res(i) = readRice(in, k); i += 1; j += 1 }
      }
      p += 1
    }
  }
}
