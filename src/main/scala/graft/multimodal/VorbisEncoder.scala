package graft.multimodal

import graft.util.{ByteSink, Crc, LsbWriter}

import VorbisCodec.{Codebook, Floor1, Tables, assignCodewords, dct4,
  highNeighbor, ilog, lookup1Values, lowNeighbor, packetBits, renderPoint}

/** Pure-JVM Ogg Vorbis ENCODER (Vorbis I + RFC 3533 Ogg framing).
  *
  * The reference exports ogg through pydub/ffmpeg
  * (/root/reference/src/converters/audio_converters.py:45-49 lists ogg
  * in the output whitelist); this is the from-scratch Spark-side
  * equivalent so "ogg" is a REAL encode target on the convert/merge
  * surface rather than a named error. Same design brief as
  * scripts/vorbisref/encoder.py (whose output both decoders already
  * pin): VALIDITY is the contract — every bit layout follows the
  * public Vorbis I spec — while rate-distortion tuning is explicitly
  * not (a flat integer lattice around a fitted floor gives roughly
  * 20-35 dB SNR; psychoacoustics would need a tuned model with no
  * correctness oracle).
  *
  * Fixed single-mode profile (the `v_mono_long` fixture shape,
  * generalized over channels):
  *   - one 2048-sample blocksize (no block switching), so every frame
  *     emits n/2 = 1024 samples and the final granule trims to the
  *     exact input frame count — decode(encode(pcm)) returns pcm's
  *     length bit-for-bit deterministically;
  *   - floor 1: one 8-dim class over 3 partitions, 26 posts
  *     (rangebits 10, multiplier 2), fitted per frame so residue
  *     targets stay inside the lattice;
  *   - residue type 2 (all channels interleaved, no coupling),
  *     partition size 32, two classes (silent / coded), one pass over
  *     a 2-dim integer lattice in [-24, 24] (lookup type 1, identity
  *     multiplicands);
  *   - in-stream codebooks with canonical complete Huffman lengths.
  *
  * Everything numeric rides the SAME committed float tables as the
  * decoder (vorbis/vorbistables.bin: window slopes, DCT-IV/FFT
  * twiddles, inverse-dB table), and the achieved floor curve is
  * computed by the DECODER's own [[VorbisCodec.Floor1]] parsed back
  * from the emitted config bits — so the residue targets the encoder
  * quantizes are exactly what the decoder will multiply back. The
  * only transcendental outside the tables is one StrictMath.log10 in
  * the dB fit (bit-deterministic across JVMs by definition).
  */
object VorbisEncoder {

  private val N = 2048
  private val N2 = N / 2
  /** Residue lattice half-range: values in [-L, L]. */
  private val L = 24
  private val QV = 2 * L + 1
  private val PSIZE = 32
  private val RANGEBITS = 10
  /** Floor post X positions (log-spaced, gen_fixtures.py log_xs(10, 24));
    * posts 0 and 1<<RANGEBITS are implicit. */
  private val XS_TAIL: Array[Int] = Array(4, 5, 6, 8, 10, 13, 16, 21, 27,
    34, 43, 55, 71, 90, 115, 146, 187, 238, 304, 387, 493, 629, 802, 1023)
  private val SERIAL = 0x67726166 // "graf"

  // Packets go through the shared LSB-first LsbWriter (spec 2; the bit
  // order of scripts/vorbisref/common.py BitWriter); Huffman codewords,
  // the one MSb-first entity, through its putCode.

  /** spec 9.2.2 inverse for small integers: 21-bit mantissa, exponent
    * biased 788 (2^0), sign bit — [[VorbisCodec]] float32Unpack maps it
    * back to exactly `v`. */
  private def float32Pack(v: Int): Long = {
    val m = math.abs(v)
    require(m < (1 << 21), s"float32Pack: |$v| needs a non-unit exponent")
    (if (v < 0) 0x80000000L else 0L) | (788L << 21) | m.toLong
  }

  /** Canonical complete-tree lengths (Kraft == 1 by construction):
    * the first 2^(k+1)-entries symbols get length k, the rest k+1. */
  private def completeLengths(entries: Int): Array[Int] = {
    if (entries == 1) return Array(1)
    val k = 31 - Integer.numberOfLeadingZeros(entries)
    if (entries == (1 << k)) return Array.fill(entries)(k)
    val nShort = (1 << (k + 1)) - entries
    Array.tabulate(entries)(i => if (i < nShort) k else k + 1)
  }

  // ------------------------------------------------------------ books --
  /** Encoder-side codebook: scalar (lookup 0) or an integer lattice
    * (lookup 1, identity multiplicands, delta 1) in [minv, minv+qv-1]
    * per dimension. Emission mirrors encoder.py Book.write. */
  private final class EBook(val dims: Int, val entries: Int,
                            val lookup: Int, val minv: Int,
                            val quantvals: Int) {
    val lengths: Array[Int] = completeLengths(entries)
    private val codes: Array[Int] = assignCodewords(lengths)._1
    if (lookup == 1)
      require(lookup1Values(entries, dims) == quantvals,
        s"lattice book $entries^(1/$dims) != $quantvals")

    def write(bw: LsbWriter): Unit = {
      bw.put(0x564342, 24)
      bw.put(dims, 16)
      bw.put(entries, 24)
      bw.put(0, 1) // not ordered
      bw.put(0, 1) // not sparse
      var e = 0
      while (e < entries) { bw.put(lengths(e) - 1, 5); e += 1 }
      bw.put(lookup, 4)
      if (lookup == 1) {
        bw.put(float32Pack(minv), 32)
        bw.put(float32Pack(1), 32) // delta
        val vbits = math.max(ilog(quantvals - 1), 1)
        bw.put(vbits - 1, 4)
        bw.put(0, 1) // sequence_p
        var q = 0
        while (q < quantvals) { bw.put(q, vbits); q += 1 }
      }
    }

    def put(bw: LsbWriter, entry: Int): Unit =
      bw.putCode(codes(entry), lengths(entry))
  }

  private def scalarBook(dims: Int, entries: Int) =
    new EBook(dims, entries, 0, 0, 0)
  private def latticeBook(dims: Int, lo: Int, hi: Int) = {
    val qv = hi - lo + 1
    new EBook(dims, math.round(math.pow(qv.toDouble, dims.toDouble)).toInt,
      1, lo, qv)
  }

  // book 0: residue classbook (4 classwords over 2 classes)
  // book 1: residue value lattice, 2-dim, [-L, L]
  // book 2: floor value book (multiplier 2 -> range 128)
  private val books: Array[EBook] =
    Array(scalarBook(4, 16), latticeBook(2, -L, L), scalarBook(1, 128))
  private val FLOOR_BOOK = 2
  private val RES_BOOK = 1
  private val CLASSBOOK = 0

  // ------------------------------------------------------------ floor --
  /** Floor config bits AFTER the 16-bit type field (what
    * [[VorbisCodec.Floor1]]'s constructor parses). One class, dim 8,
    * no subclasses, 3 partitions. */
  private def floorConfigBits(bw: LsbWriter): Unit = {
    bw.put(3, 5) // partitions
    var p = 0
    while (p < 3) { bw.put(0, 4); p += 1 } // class list
    bw.put(8 - 1, 3) // class 0 dims
    bw.put(0, 2) // subclasses
    bw.put(FLOOR_BOOK + 1, 8) // the single subclass book
    bw.put(2 - 1, 2) // multiplier 2 -> range 128
    bw.put(RANGEBITS, 4)
    var i = 0
    while (i < XS_TAIL.length) { bw.put(XS_TAIL(i), RANGEBITS); i += 1 }
  }

  /** The decoder's own Floor1 parsed back from the emitted bits — the
    * achieved-curve twin (its books array is only length-checked by the
    * constructor since this profile has no subclasses/masterbooks). */
  private val decoderFloor: Floor1 = {
    val bw = new LsbWriter
    floorConfigBits(bw)
    new Floor1(packetBits(bw.toBytes), new Array[Codebook](books.length))
  }
  private val floorRange = decoderFloor.range // 128
  private val floorXs = decoderFloor.xs
  private val floorOrder = decoderFloor.sortidx

  /** Inverse dB index: the `y` whose dbtab entry best matches `mag`
    * (spec amplitude = 10^((y*mult-255)*0.02734375... via the shared
    * table's generator), clamped into the floor range. */
  private def dbIdx(mag: Double): Int = {
    if (mag < 1e-7) return 0
    val dbi = 255.0 + StrictMath.log10(mag) / 0.02734375
    val v = math.round(dbi / 2.0).toInt // multiplier 2
    if (v < 0) 0 else if (v > floorRange - 1) floorRange - 1 else v
  }

  /** Transmitted val list for absolute posts finalYs — the exact
    * inverse of Floor1.curve's amplitude cascade (spec 7.2.4 step 1),
    * mirroring encoder.py _floor_vals. */
  private def floorVals(finalYs: Array[Int]): Array[Int] = {
    val vals = new Array[Int](finalYs.length)
    vals(0) = finalYs(0)
    vals(1) = finalYs(1)
    var j = 2
    while (j < floorXs.length) {
      val lo = lowNeighbor(floorXs, j)
      val hi = highNeighbor(floorXs, j)
      val pred = renderPoint(floorXs(lo), finalYs(lo), floorXs(hi),
        finalYs(hi), floorXs(j))
      val delta = finalYs(j) - pred
      val highroom = floorRange - pred
      val lowroom = pred
      val room = 2 * math.min(highroom, lowroom)
      val v =
        if (delta == 0) 0
        else {
          val small = if (delta > 0) 2 * delta else -2 * delta - 1
          if (small < room && small != 0) small
          else if (highroom > lowroom) delta + lowroom
          else -delta - 1 + highroom
        }
      require(v >= 0 && v < floorRange, s"floor val $v out of range")
      vals(j) = v
      j += 1
    }
    vals
  }

  /** Fit absolute posts so the decoder-rendered curve keeps every
    * residue target |spectrum/curve| within ~0.875*L: start from each
    * post's Voronoi cell max parked at curve ~ cellmax/(0.7 L), then
    * raise the posts bracketing any still-overshooting bin (the
    * rendered curve interpolates in dB and can dip below a mid-segment
    * peak; raising BOTH brackets bounds it). Mirrors encoder.py
    * Floor.fit. */
  private def fitFloor(spectrum: Array[Double]): Array[Int] = {
    val count = floorXs.length
    val ys = new Array[Int](count)
    var oi = 0
    while (oi < count) {
      val pi = floorOrder(oi)
      val x = floorXs(pi)
      val left = if (oi > 0) floorXs(floorOrder(oi - 1)) else 0
      val right = if (oi + 1 < count) floorXs(floorOrder(oi + 1)) else N
      val lo = math.max(0, math.min((left + x) / 2, N2))
      val hi = math.max(0, math.min((x + right + 1) / 2 + 1, N2))
      var mag = 0.0
      var k = lo
      while (k < hi) {
        val a = math.abs(spectrum(k)); if (a > mag) mag = a; k += 1
      }
      ys(pi) = dbIdx(mag / (0.7 * L))
      oi += 1
    }
    val margin = L * 0.875
    var round = 0
    var worst = 1.0
    while (round < 10 && worst > 0.0) {
      val curve = decoderFloor.curve(floorVals(ys), N2, Tables.dbtab)
      worst = 0.0
      var k = 0
      while (k < N2) {
        val t = math.abs(spectrum(k)) / curve(k)
        if (t > margin) {
          if (t > worst) worst = t
          val need = dbIdx(math.abs(spectrum(k)) / margin)
          // raise both posts bracketing bin k
          var o = 0
          var done = false
          while (o < count && !done) {
            val pi = floorOrder(o)
            val nxt = if (o + 1 < count) floorOrder(o + 1) else -1
            if (floorXs(pi) <= k && (nxt < 0 || floorXs(nxt) > k)) {
              if (need > ys(pi)) ys(pi) = need
              if (nxt >= 0 && need > ys(nxt)) ys(nxt) = need
              done = true
            }
            o += 1
          }
        }
        k += 1
      }
      round += 1
    }
    ys
  }

  /** Write one channel's floor packet section; returns the achieved
    * curve (what the decoder will multiply residues by), or null for a
    * silent channel. */
  private def encodeFloor(bw: LsbWriter, spectrum: Array[Double],
                          silent: Boolean): Array[Double] = {
    if (silent) { bw.put(0, 1); return null }
    bw.put(1, 1)
    val ys = fitFloor(spectrum)
    val vals = floorVals(ys)
    val rbits = ilog(floorRange - 1)
    bw.put(vals(0), rbits)
    bw.put(vals(1), rbits)
    // 3 partitions x class 0 (dim 8, no subclasses): plain book writes
    var i = 2
    while (i < vals.length) {
      books(FLOOR_BOOK).put(bw, vals(i))
      i += 1
    }
    decoderFloor.curve(vals, N2, Tables.dbtab)
  }

  // ---------------------------------------------------------- residue --
  private def residueConfigBits(bw: LsbWriter, ch: Int): Unit = {
    bw.put(0, 24) // begin
    bw.put(N2 * ch, 24) // end
    bw.put(PSIZE - 1, 24)
    bw.put(2 - 1, 6) // classifications
    bw.put(CLASSBOOK, 8)
    bw.put(0, 3); bw.put(0, 1) // class 0 cascade: silent
    bw.put(1, 3); bw.put(0, 1) // class 1 cascade: one pass
    bw.put(RES_BOOK, 8) // class 1, pass 0
  }

  private def clampRound(x: Double): Int = {
    val v = math.round(x).toInt
    if (v < -L) -L else if (v > L) L else v
  }

  /** Residue type 2: interleave channels, classify partitions
    * (silent / coded), greedy lattice quantize, emit in the decoder's
    * pass/classword order (spec 8.6.2). Channels whose floor was
    * silent contribute zero lanes, exactly as the decoder expects. */
  private def encodeResidue(bw: LsbWriter, targets: Array[Array[Double]],
                            anyUsed: Boolean): Unit = {
    if (!anyUsed) return // decoder reads nothing when all-silent
    val ch = targets.length
    val n = N2 * ch
    val big = new Array[Double](n)
    var i = 0
    while (i < N2) {
      var c = 0
      while (c < ch) {
        if (targets(c) != null) big(i * ch + c) = targets(c)(i)
        c += 1
      }
      i += 1
    }
    val parts = n / PSIZE
    val classwords = books(CLASSBOOK).dims // 4
    val cls = new Array[Int](parts + classwords)
    val plan = new Array[Array[Int]](parts)
    var pt = 0
    while (pt < parts) {
      val off = pt * PSIZE
      var silent = true
      var k = 0
      while (silent && k < PSIZE) {
        if (math.abs(big(off + k)) >= 0.5) silent = false
        k += 1
      }
      if (!silent) {
        cls(pt) = 1
        val entries = new Array[Int](PSIZE / 2)
        var j = 0
        while (j < PSIZE) {
          val q0 = clampRound(big(off + j))
          val q1 = clampRound(big(off + j + 1))
          entries(j / 2) = (q0 + L) + (q1 + L) * QV
          j += 2
        }
        plan(pt) = entries
      }
      pt += 1
    }
    // single pass: per classword group, the classification word then
    // each partition's value-book entries
    var pcount = 0
    while (pcount < parts) {
      var temp = 0
      var w = 0
      while (w < classwords) { temp = temp * 2 + cls(pcount + w); w += 1 }
      books(CLASSBOOK).put(bw, temp)
      var g = 0
      while (g < classwords && pcount < parts) {
        if (cls(pcount) == 1) {
          val entries = plan(pcount)
          var e = 0
          while (e < entries.length) {
            books(RES_BOOK).put(bw, entries(e))
            e += 1
          }
        }
        g += 1
        pcount += 1
      }
    }
  }

  // ------------------------------------------------------------- mdct --
  /** Forward MDCT X[k] = sum_i y[i] cos(2pi/n (i+0.5+n/4)(k+0.5)):
    * fold y (length n) to m = n/2 by the IMDCT symmetries transposed,
    * then the shared DCT-IV (encoder.py mdct_fast_fwd). */
  private def mdctForward(y: Array[Double]): Array[Double] = {
    val m = N2
    val half = m / 2
    val z = new Array[Double](m)
    var i = 0
    while (i < half) { z(i + half) += y(i); i += 1 }
    while (i < 3 * half) { z(3 * half - 1 - i) -= y(i); i += 1 }
    while (i < 2 * m) { z(i - 3 * half) -= y(i); i += 1 }
    val (pre, post, ffttw) = Tables.twiddles(N)
    dct4(z, pre, post, ffttw)
  }

  // ---------------------------------------------------------- headers --
  private def identPacket(channels: Int, rate: Int): Array[Byte] = {
    val bw = new LsbWriter
    bw.put(1, 8)
    "vorbis".foreach(c => bw.put(c.toInt, 8))
    bw.put(0L, 32) // version
    bw.put(channels, 8)
    bw.put(rate.toLong, 32)
    bw.put(0L, 32); bw.put(0L, 32); bw.put(0L, 32) // bitrates
    bw.put(ilog(N) - 1, 4) // blocksize_0 = 2048
    bw.put(ilog(N) - 1, 4) // blocksize_1 = 2048
    bw.put(1, 1)
    bw.toBytes
  }

  private def commentPacket(): Array[Byte] = {
    val bw = new LsbWriter
    bw.put(3, 8)
    "vorbis".foreach(c => bw.put(c.toInt, 8))
    val vendor = "graft vorbis encoder".getBytes("UTF-8")
    bw.put(vendor.length.toLong, 32)
    vendor.foreach(b => bw.put(b & 0xFF, 8))
    bw.put(0L, 32) // no comments
    bw.put(1, 1)
    bw.toBytes
  }

  private def setupPacket(channels: Int): Array[Byte] = {
    val bw = new LsbWriter
    bw.put(5, 8)
    "vorbis".foreach(c => bw.put(c.toInt, 8))
    bw.put(books.length - 1, 8)
    books.foreach(_.write(bw))
    bw.put(0, 6) // one time transform
    bw.put(0, 16)
    bw.put(0, 6) // one floor
    bw.put(1, 16) // floor type 1
    floorConfigBits(bw)
    bw.put(0, 6) // one residue
    bw.put(2, 16) // residue type 2
    residueConfigBits(bw, channels)
    bw.put(0, 6) // one mapping
    bw.put(0, 16) // mapping type 0
    bw.put(0, 1) // one submap
    bw.put(0, 1) // no coupling
    bw.put(0, 2) // reserved
    bw.put(0, 8) // submap time (unused)
    bw.put(0, 8) // floor 0
    bw.put(0, 8) // residue 0
    bw.put(0, 6) // one mode
    bw.put(0, 1) // blockflag 0
    bw.put(0, 16); bw.put(0, 16) // window/transform type
    bw.put(0, 8) // mapping 0
    bw.put(1, 1)
    bw.toBytes
  }

  // -------------------------------------------------------------- ogg --
  /** One Ogg page (RFC 3533): `chunks` are the packet byte-chunks on
    * this page; `lastComplete` false means the final chunk continues
    * on the next page (all its lacing values 255). */
  private def oggPage(seq: Int, granule: Long, flags: Int,
                      chunks: Seq[Array[Byte]],
                      lastComplete: Boolean): Array[Byte] = {
    val lacing = new java.io.ByteArrayOutputStream()
    var ci = 0
    while (ci < chunks.length) {
      val len = chunks(ci).length
      var full = len / 255
      while (full > 0) { lacing.write(255); full -= 1 }
      if (ci == chunks.length - 1 && !lastComplete)
        require(len % 255 == 0, "continued chunk must be a 255 multiple")
      else lacing.write(len % 255)
      ci += 1
    }
    val lace = lacing.toByteArray
    require(lace.length <= 255, "too many lacing values for one page")
    var bodyLen = 0
    chunks.foreach(c => bodyLen += c.length)
    val out = new ByteSink(27 + lace.length + bodyLen)
    out.write('O'); out.write('g'); out.write('g'); out.write('S')
    out.write(0)
    out.write(flags)
    out.u32le(granule); out.u32le(granule >>> 32)
    out.u32le(SERIAL)
    out.u32le(seq)
    out.u32le(0) // crc: zero for the computation, set below
    out.write(lace.length)
    out.write(lace, 0, lace.length)
    chunks.foreach(c => out.write(c, 0, c.length))
    val page = out.toByteArray
    java.nio.ByteBuffer.wrap(page).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Crc.ogg(page, 0, page.length))
    page
  }

  /** Spec-conformant pagination (encoder.py paginate): page 0 = ident
    * alone (BOS); comment + setup start on page 1 and span pages with
    * the continuation flag as needed; each audio packet ends a page
    * carrying the cumulative granule (spanning first if >= 255*255
    * bytes); final page flagged EOS. */
  private[graft] def paginate(ident: Array[Byte], comment: Array[Byte],
                              setup: Array[Byte], audio: Seq[Array[Byte]],
                              granules: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var seq = 0
    def emit(chunks: Seq[Array[Byte]], granule: Long, flags: Int,
             lastComplete: Boolean): Unit = {
      out.write(oggPage(seq, granule, flags, chunks, lastComplete))
      seq += 1
    }
    emit(Seq(ident), 0L, 0x02, lastComplete = true)
    var chunks = Vector.empty[Array[Byte]]
    var segs = 0
    var cont = false
    for (pkt <- Seq(comment, setup)) {
      var off = 0
      var placed = false
      while (!placed) {
        val avail = 255 - segs
        val rem = pkt.length - off
        val need = rem / 255 + 1 // lacing values to COMPLETE the packet
        if (need <= avail) {
          chunks :+= java.util.Arrays.copyOfRange(pkt, off, pkt.length)
          segs += need
          placed = true
        } else {
          if (avail > 0) {
            val take = avail * 255
            chunks :+= java.util.Arrays.copyOfRange(pkt, off, off + take)
            segs += avail
            off += take
          }
          // a full page with no room left ends on the previous packet's
          // final chunk, which is complete
          val ended = avail == 0
          emit(chunks, -1L, if (cont) 0x01 else 0x00, lastComplete = ended)
          chunks = Vector.empty
          segs = 0
          cont = !ended
        }
      }
    }
    if (chunks.nonEmpty)
      emit(chunks, -1L, if (cont) 0x01 else 0x00, lastComplete = true)
    var i = 0
    while (i < audio.length) {
      val pkt = audio(i)
      var off = 0
      var pcont = false
      while (pkt.length - off >= 255 * 255) {
        emit(Seq(java.util.Arrays.copyOfRange(pkt, off, off + 255 * 255)),
          -1L, if (pcont) 0x01 else 0x00, lastComplete = false)
        off += 255 * 255
        pcont = true
      }
      val flags = (if (pcont) 0x01 else 0x00) |
        (if (i == audio.length - 1) 0x04 else 0x00)
      emit(Seq(java.util.Arrays.copyOfRange(pkt, off, pkt.length)),
        granules(i), flags, lastComplete = true)
      i += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------ encode --
  /** PCM -> Ogg Vorbis bytes. Frame b's 2048-sample window covers
    * input frames [(b-1)*1024, (b+1)*1024) (out-of-range lanes zero),
    * so decoded sample i IS input frame i and the final granule trims
    * the stream to exactly `buf.frames`. 8-bit input scales by 1/128,
    * 16-bit by 1/32768 (decode always returns 16-bit, like pydub's
    * internal PCM16 path). */
  def encode(buf: AudioConvert.AudioBuf): Array[Byte] = {
    val ch = buf.channels
    require(ch >= 1 && ch <= 255, s"vorbis encode: $ch channels")
    require(buf.frameRate > 0, "vorbis encode: frame rate must be positive")
    require(buf.bits == 8 || buf.bits == 16,
      s"vorbis encode: ${buf.bits}-bit input unsupported (8/16)")
    require(buf.samples.length <= (1 << 24),
      s"vorbis encode: ${buf.samples.length} samples exceeds the 16M cap")
    val scale = if (buf.bits == 8) 128.0 else 32768.0
    val frames = buf.frames
    val nframes = if (frames == 0) 1 else (frames + N2 - 1) / N2 + 1
    val slope = Tables.slope(N)
    val packets = Vector.newBuilder[Array[Byte]]
    val granules = Vector.newBuilder[Long]
    var emitted = 0L
    var b = 0
    while (b < nframes) {
      val base = (b - 1) * N2
      val bw = new LsbWriter
      bw.put(0, 1) // audio packet
      // mode number: ilog(modes-1) = 0 bits; blockflag 0: no window flags
      val targets = new Array[Array[Double]](ch)
      var anyUsed = false
      var c = 0
      while (c < ch) {
        val y = new Array[Double](N)
        var nonzero = false
        var i = 0
        while (i < N) {
          val f = base + i
          if (f >= 0 && f < frames) {
            val v = buf.samples(f * ch + c) / scale
            y(i) = v
            if (v > 1e-9 || v < -1e-9) nonzero = true
          }
          i += 1
        }
        if (nonzero) anyUsed = true
        i = 0
        while (i < N2) { y(i) *= slope(i); i += 1 }
        i = 0
        while (i < N2) { y(N2 + i) *= slope(N2 - 1 - i); i += 1 }
        val x = mdctForward(y)
        var k = 0
        while (k < N2) { x(k) *= 4.0 / N; k += 1 }
        val curve = encodeFloor(bw, x, silent = !nonzero)
        if (curve != null) {
          val t = new Array[Double](N2)
          k = 0
          while (k < N2) { t(k) = x(k) / curve(k); k += 1 }
          targets(c) = t
        }
        c += 1
      }
      encodeResidue(bw, targets, anyUsed)
      packets += bw.toBytes
      if (b > 0) emitted += N2
      granules += emitted
      b += 1
    }
    val granArr = granules.result()
    val trimmed = granArr.init :+ math.min(granArr.last, frames.toLong)
    paginate(identPacket(ch, buf.frameRate), commentPacket(),
      setupPacket(ch), packets.result(), trimmed)
  }
}
