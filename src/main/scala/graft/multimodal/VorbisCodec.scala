package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import graft.util.{ByteCursor, Crc, LsbReader}

/** Pure-JVM Ogg Vorbis DECODER (Vorbis I + RFC 3533 Ogg framing).
  *
  * The reference converter loads ogg payloads through pydub/ffmpeg
  * (/root/reference/src/converters/audio_converters.py:40-44); this is
  * the from-scratch Spark-side equivalent so ogg inputs ride the whole
  * convert/merge/effects surface like wav/flac/mp3 do.
  *
  * Implements, per the public Vorbis I specification (Xiph.Org):
  *   - Ogg page walk, CRC-32 (poly 0x04c11db7), packet reassembly
  *     across pages (lacing + continuation flags), BOS/EOS checks,
  *     granule end-trim (RFC 3533 / spec A.2);
  *   - in-stream codebooks: unordered/sparse/ordered length lists,
  *     spec 3.2.1 canonical codeword assignment, VQ lookup types 1/2
  *     (spec 3.3);
  *   - floor type 1 (spec 7.2): classes/subclasses/masterbooks, the
  *     low/high-neighbor + render_point amplitude cascade, Bresenham
  *     render_line, inverse-dB mapping. Floor type 0 (LSP) is a NAMED
  *     error: no known encoder has emitted it since Xiph beta3;
  *   - residue types 0/1/2 (spec 8.6) with cascaded passes;
  *   - square-polar channel coupling (spec 4.3.5), multiplexed
  *     submaps;
  *   - long/short block switching with window-flag lapping
  *     (spec 4.3.1/1.3.2) and the sin(pi/2 sin^2) window;
  *   - IMDCT via one complex FFT of size n/4 (the DCT-IV
  *     factorization derived in scripts/vorbisref/common.py:
  *     with u[t] = x[2t] + i x[m-1-2t] and G[j] = C[2j] - i C[m-1-2j],
  *     G = post .* FFT(u .* pre), pre[t] = e^{-i pi t/m},
  *     post[j] = e^{-i pi (4j+1)/(4m)});
  *   - end-of-packet containment (spec 1.1.4): EOP mid-floor zeroes
  *     the packet, EOP mid-residue keeps the partial decode.
  *
  * This file mirrors scripts/vorbisref/decoder.py OP FOR OP over the
  * shared float tables in vorbis/vorbistables.bin (window slopes,
  * DCT-IV/FFT twiddles, the inverse-dB table as little-endian
  * doubles), so the PCM digests pinned in vorbis/manifest.tsv are an
  * exact cross-language pin — any drift in bit parsing, codebook
  * assignment, floor math, residue accumulation, coupling, IMDCT or
  * lapping flips the md5 (same discipline as [[Mp3Codec]] /
  * mp3tables.bin).
  */
object VorbisCodec {

  final class VorbisException(msg: String)
    extends IllegalArgumentException("vorbis: " + msg)

  private def need(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new VorbisException(msg)

  /** End-of-packet marker (spec 1.1.4: not an error mid-audio-packet). */
  private final class Eop extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  def isOgg(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' &&
      b(3) == 'S'

  /** True if the payload is an Ogg container whose first logical
    * stream is Vorbis (the precondition for [[decodeSamples]]). */
  def isOggVorbis(b: Array[Byte]): Boolean =
    isOgg(b) && {
      // first page body begins after the 27-byte header + lacing
      b.length > 27 && {
        val nsegs = b(26) & 0xFF
        val at = 27 + nsegs
        b.length >= at + 7 && (b(at) & 0xFF) == 1 &&
          b(at + 1) == 'v' && b(at + 2) == 'o' && b(at + 3) == 'r' &&
          b(at + 4) == 'b' && b(at + 5) == 'i' && b(at + 6) == 's'
      }
    }

  // ------------------------------------------------------------ tables --
  /** Float tables shared bit-exactly with the Python reference pair
    * (scripts/vorbisref/gen_fixtures.py writes them; see the module
    * doc). Layout: "GRVORBT1", slopes for n = 64..8192 (n/2 doubles
    * each), then per n: pre (2h), post (2h), fft (h) doubles with
    * h = n/4, then the 256-entry inverse-dB table. */
  private[multimodal] object Tables {
    val blocksizes: Array[Int] = Array(64, 128, 256, 512, 1024, 2048,
      4096, 8192)
    private val all: ByteBuffer = {
      val in = getClass.getResourceAsStream("/vorbis/vorbistables.bin")
      require(in != null, "vorbis/vorbistables.bin resource missing")
      val bytes = in.readAllBytes(); in.close()
      require(bytes.length == 230536,
        s"vorbistables.bin size ${bytes.length}")
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](8); bb.get(magic)
      require(new String(magic, "US-ASCII") == "GRVORBT1",
        "vorbistables.bin magic mismatch")
      bb
    }
    private def darr(n: Int): Array[Double] = {
      val a = new Array[Double](n)
      var i = 0
      while (i < n) { a(i) = all.getDouble(); i += 1 }
      a
    }
    val slope: Map[Int, Array[Double]] =
      blocksizes.map(n => n -> darr(n / 2)).toMap
    /** (pre re/im interleaved, post re/im, fft re/im) per blocksize. */
    val twiddles: Map[Int, (Array[Double], Array[Double], Array[Double])] =
      blocksizes.map { n =>
        val h = n / 4
        n -> (darr(2 * h), darr(2 * h), darr(h))
      }.toMap
    val dbtab: Array[Double] = darr(256)
  }

  // -------------------------------------------------------------- bits --
  private val endOfPacket: () => Nothing = () => throw new Eop

  /** Vorbis bitpacker convention (spec 2): LSb-first within each byte;
    * Huffman codewords are the one MSb-first entity, read bit by bit. A
    * read past the packet's end is [[Eop]]. */
  private[multimodal] def packetBits(p: Array[Byte]): LsbReader =
    new LsbReader(p, 0, p.length, endOfPacket)

  /** spec 9.2.1. */
  private[multimodal] def ilog(x0: Int): Int = {
    var x = x0; var r = 0
    while (x > 0) { r += 1; x >>= 1 }
    r
  }

  /** spec 9.2.2: exact in IEEE 754 (21-bit mantissa times a power of
    * two), mirroring float(mant) * 2.0**(exp-788). */
  private def float32Unpack(x: Long): Double = {
    var mant = (x & 0x1FFFFF).toDouble
    val exp = ((x & 0x7FE00000L) >> 21).toInt
    if ((x & 0x80000000L) != 0) mant = -mant
    mant * math.pow(2.0, (exp - 788).toDouble)
  }

  /** spec 9.2.3. */
  private[multimodal] def lookup1Values(entries: Int, dim: Int): Int = {
    var n = math.floor(math.pow(entries.toDouble,
      1.0 / dim)).toInt
    while (math.pow((n + 1).toDouble, dim.toDouble) <= entries) n += 1
    while (math.pow(n.toDouble, dim.toDouble) > entries) n -= 1
    n
  }

  // --------------------------------------------------------------- ogg --
  private val ZeroCrcField = new Array[Byte](4)

  /** RFC 3533 page walk of the FIRST logical stream: reassembled
    * packets + (packetIndex, granule) per completing page. */
  private[graft] def oggPackets(data: Array[Byte])
      : (Vector[Array[Byte]], Vector[(Int, Long)]) = {
    val packets = Vector.newBuilder[Array[Byte]]
    var npackets = 0
    val granules = Vector.newBuilder[(Int, Long)]
    var pos = 0
    var serial = 0
    var haveSerial = false
    var pending = new java.io.ByteArrayOutputStream()
    var pendingOpen = false
    var expectPage = 0
    var sawEos = false
    val ogg = ByteCursor(data)
    while (pos < data.length) {
      need(pos + 27 <= data.length, "ogg: truncated page header")
      need(data(pos) == 'O' && data(pos + 1) == 'g' &&
        data(pos + 2) == 'g' && data(pos + 3) == 'S',
        "ogg: capture pattern missing")
      need(data(pos + 4) == 0, "ogg: stream structure version != 0")
      val htype = data(pos + 5) & 0xFF
      val granule = ogg.u64le(pos + 6)
      val ser = ogg.i32le(pos + 14)
      val seq = ogg.i32le(pos + 18)
      val crc = ogg.i32le(pos + 22)
      val nsegs = data(pos + 26) & 0xFF
      need(pos + 27 + nsegs <= data.length, "ogg: segment table truncated")
      var bodyLen = 0
      var si = 0
      while (si < nsegs) {
        bodyLen += data(pos + 27 + si) & 0xFF
        si += 1
      }
      val bodyAt = pos + 27 + nsegs
      need(bodyAt + bodyLen <= data.length, "ogg: page body truncated")
      // the 4 CRC bytes participate as zeros (RFC 3533)
      val headCrc = Crc.ogg.update(Crc.ogg(data, pos, pos + 22), ZeroCrcField, 0, 4)
      need(Crc.ogg.update(headCrc, data, pos + 26, bodyAt + bodyLen) == crc,
        "ogg: page CRC mismatch")
      if (!haveSerial) {
        need((htype & 0x02) != 0, "ogg: first page lacks BOS flag")
        serial = ser
        haveSerial = true
      }
      if (ser == serial) {
        need(!sawEos, "ogg: page after EOS")
        need(seq == expectPage, "ogg: page sequence gap")
        expectPage += 1
        need(((htype & 0x01) != 0) == pendingOpen,
          "ogg: continuation flag inconsistent with packet state")
        var off = bodyAt
        var completedHere = false
        si = 0
        while (si < nsegs) {
          val s = data(pos + 27 + si) & 0xFF
          pending.write(data, off, s)
          off += s
          if (s < 255) {
            packets += pending.toByteArray
            npackets += 1
            pending = new java.io.ByteArrayOutputStream()
            completedHere = true
          }
          si += 1
        }
        if (nsegs > 0)
          pendingOpen = (data(pos + 27 + nsegs - 1) & 0xFF) == 255
        if ((htype & 0x04) != 0) sawEos = true
        if (completedHere && granule != -1L)
          granules += ((npackets - 1, granule))
      }
      pos = bodyAt + bodyLen
    }
    need(!pendingOpen, "ogg: stream ends inside a packet")
    need(sawEos, "ogg: no EOS page")
    (packets.result(), granules.result())
  }

  // ------------------------------------------------------------ huffman --
  /** spec 3.2.1 canonical assignment; returns codeword-per-entry (-1 =
    * unused) with lengths, mirroring common.py assign_codewords. */
  private[multimodal] def assignCodewords(lengths: Array[Int])
      : (Array[Int], Array[Int]) = {
    val codes = Array.fill(lengths.length)(-1)
    val available = new Array[Long](33)
    var first = true
    var entry = 0
    while (entry < lengths.length) {
      val ln = lengths(entry)
      if (ln > 0) {
        if (first) {
          codes(entry) = 0
          var d = 1
          while (d <= ln) { available(d) = 1L << (32 - d); d += 1 }
          first = false
        } else {
          var d = ln
          while (d > 0 && available(d) == 0) d -= 1
          need(d > 0, "codebook over-subscribed (Kraft > 1)")
          val word32 = available(d)
          available(d) = 0
          codes(entry) = (word32 >>> (32 - ln)).toInt
          var dd = d + 1
          while (dd <= ln) {
            available(dd) = word32 | (1L << (32 - dd))
            dd += 1
          }
        }
      }
      entry += 1
    }
    (codes, lengths)
  }

  // ------------------------------------------------------------ codebook --
  private[multimodal] final class Codebook(br: LsbReader) {
    need(br.read(24) == 0x564342, "codebook sync pattern missing")
    val dims: Int = br.read(16)
    val entries: Int = br.read(24)
    need(dims > 0, "codebook with zero dimensions")
    need(entries > 0, "codebook with zero entries")
    val lengths: Array[Int] = new Array[Int](entries)
    if (br.bit() == 0) {
      val sparse = br.bit()
      var e = 0
      while (e < entries) {
        if (sparse == 1) {
          if (br.bit() == 1) lengths(e) = br.read(5) + 1
        } else lengths(e) = br.read(5) + 1
        e += 1
      }
    } else {
      var curLen = br.read(5) + 1
      var e = 0
      while (e < entries) {
        val num = br.read(ilog(entries - e))
        need(e + num <= entries, "ordered codebook overflow")
        var i = 0
        while (i < num) { lengths(e + i) = curLen; i += 1 }
        e += num
        curLen += 1
        need(curLen <= 33, "ordered codebook length > 32")
      }
    }
    private val used = lengths.count(_ > 0)
    need(used > 0, "codebook with no used entries")
    val single: Int =
      if (used == 1) lengths.indexWhere(_ > 0) else -1
    if (single < 0) {
      var kraft = 0.0
      var e = 0
      while (e < entries) {
        if (lengths(e) > 0) kraft += math.pow(2.0, -lengths(e).toDouble)
        e += 1
      }
      need(kraft <= 1.0 + 1e-12, "codebook over-subscribed")
    }
    private val codes = assignCodewords(lengths)._1
    val maxlen: Int = lengths.max
    // decode map: key = (len << 32) | code
    private val dec = new java.util.HashMap[Long, Integer](entries * 2)
    locally {
      var e = 0
      while (e < entries) {
        if (lengths(e) > 0)
          dec.put((lengths(e).toLong << 32) | (codes(e).toLong & 0xFFFFFFFFL),
            Integer.valueOf(e))
        e += 1
      }
    }
    // ---- VQ ----
    val lookup: Int = br.read(4)
    need(lookup >= 0 && lookup <= 2, "reserved codebook lookup type")
    var minv: Double = 0.0
    var delta: Double = 0.0
    var seqP: Boolean = false
    var quantvals: Int = 0
    var mult: Array[Int] = null
    if (lookup != 0) {
      minv = float32Unpack(br.readLong(32))
      delta = float32Unpack(br.readLong(32))
      val vbits = br.read(4) + 1
      seqP = br.bit() == 1
      quantvals =
        if (lookup == 1) lookup1Values(entries, dims) else entries * dims
      mult = new Array[Int](quantvals)
      var q = 0
      while (q < quantvals) { mult(q) = br.read(vbits); q += 1 }
    }

    def decodeScalar(br: LsbReader): Int = {
      if (single >= 0) {
        var i = 0
        while (i < lengths(single)) { br.bit(); i += 1 }
        return single
      }
      var code = 0L
      var ln = 0
      while (ln <= maxlen) {
        code = (code << 1) | br.bit()
        ln += 1
        val e = dec.get((ln.toLong << 32) | code)
        if (e != null) return e.intValue()
      }
      throw new VorbisException("huffman codeword not in codebook")
    }

    /** spec 3.3, mirrors decoder.py Codebook.vq op for op. */
    def vq(entry: Int, out: Array[Double]): Unit = {
      need(lookup != 0, "VQ decode from a scalar-only codebook")
      var last = 0.0
      if (lookup == 1) {
        var idiv = 1
        var j = 0
        while (j < dims) {
          val off = (entry / idiv) % quantvals
          val v = mult(off) * delta + minv + last
          if (seqP) last = v
          out(j) = v
          idiv *= quantvals
          j += 1
        }
      } else {
        var j = 0
        while (j < dims) {
          val v = mult(entry * dims + j) * delta + minv + last
          if (seqP) last = v
          out(j) = v
          j += 1
        }
      }
    }
  }

  // --------------------------------------------------------------- floor --
  private def clampI(v: Int, lo: Int, hi: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  /** spec 9.2.4. */
  private[multimodal] def lowNeighbor(v: Array[Int], x: Int): Int = {
    var best = -1
    var n = 0
    while (n < x) {
      if (v(n) < v(x) && (best < 0 || v(n) > v(best))) best = n
      n += 1
    }
    need(best >= 0, "low_neighbor: none")
    best
  }

  /** spec 9.2.5. */
  private[multimodal] def highNeighbor(v: Array[Int], x: Int): Int = {
    var best = -1
    var n = 0
    while (n < x) {
      if (v(n) > v(x) && (best < 0 || v(n) < v(best))) best = n
      n += 1
    }
    need(best >= 0, "high_neighbor: none")
    best
  }

  /** spec 9.2.6. */
  private[multimodal] def renderPoint(x0: Int, y0: Int, x1: Int, y1: Int,
                          x: Int): Int = {
    val dy = y1 - y0
    val adx = x1 - x0
    val ady = if (dy < 0) -dy else dy
    val err = ady * (x - x0)
    val off = err / adx
    if (dy < 0) y0 - off else y0 + off
  }

  /** spec 9.2.7 (Bresenham; base truncates toward zero like the
    * Python mirror's explicit trunc). */
  private def renderLine(x0: Int, y0: Int, x1: Int, y1: Int,
                         v: Array[Int], n2: Int): Unit = {
    val dy = y1 - y0
    val adx = x1 - x0
    val base = dy / adx
    val ady = (if (dy < 0) -dy else dy) -
      (if (base < 0) -base else base) * adx
    val sy = if (dy >= 0) base + 1 else base - 1
    var y = y0
    var err = 0
    if (x0 < n2) v(x0) = y
    var x = x0 + 1
    val xe = math.min(x1, n2)
    while (x < xe) {
      err += ady
      if (err >= adx) { err -= adx; y += sy } else y += base
      v(x) = y
      x += 1
    }
  }

  private[multimodal] final class Floor1(br: LsbReader, books: Array[Codebook]) {
    val partitions: Int = br.read(5)
    val classList: Array[Int] =
      Array.fill(partitions)(br.read(4))
    private val maxclass = if (partitions == 0) -1 else classList.max
    val classDims = new Array[Int](maxclass + 1)
    val classSubs = new Array[Int](maxclass + 1)
    val masterbooks = new Array[Int](maxclass + 1)
    val subclassBooks = new Array[Array[Int]](maxclass + 1)
    locally {
      var c = 0
      while (c <= maxclass) {
        classDims(c) = br.read(3) + 1
        classSubs(c) = br.read(2)
        if (classSubs(c) > 0) {
          masterbooks(c) = br.read(8)
          need(masterbooks(c) < books.length,
            "floor1 masterbook out of range")
        } else masterbooks(c) = -1
        val sb = new Array[Int](1 << classSubs(c))
        var s = 0
        while (s < sb.length) {
          sb(s) = br.read(8) - 1
          need(sb(s) < books.length, "floor1 subclass book out of range")
          s += 1
        }
        subclassBooks(c) = sb
        c += 1
      }
    }
    val multiplier: Int = br.read(2) + 1
    private val rangebits = br.read(4)
    val xs: Array[Int] = {
      val b = Array.newBuilder[Int]
      b += 0
      b += (1 << rangebits)
      var i = 0
      while (i < partitions) {
        var j = 0
        while (j < classDims(classList(i))) {
          b += br.read(rangebits)
          j += 1
        }
        i += 1
      }
      b.result()
    }
    need(xs.length <= 65, "floor1 has more than 65 posts")
    need(xs.distinct.length == xs.length, "floor1 X values not unique")
    val sortidx: Array[Int] = xs.indices.sortBy(xs)(Ordering.Int).toArray
    val range: Int = Array(256, 128, 86, 64)(multiplier - 1)

    /** spec 7.2.3: the transmitted post vals, or null (unused). */
    def decode(br: LsbReader, books: Array[Codebook]): Array[Int] = {
      if (br.bit() == 0) return null
      val rbits = ilog(range - 1)
      val ys = new Array[Int](xs.length)
      ys(0) = br.read(rbits)
      ys(1) = br.read(rbits)
      var off = 2
      var i = 0
      while (i < partitions) {
        val cls = classList(i)
        val cdim = classDims(cls)
        val cbits = classSubs(cls)
        val csub = (1 << cbits) - 1
        var cval = 0
        if (cbits > 0) cval = books(masterbooks(cls)).decodeScalar(br)
        var j = 0
        while (j < cdim) {
          val book = subclassBooks(cls)(cval & csub)
          cval >>= cbits
          ys(off + j) = if (book >= 0) books(book).decodeScalar(br) else 0
          j += 1
        }
        off += cdim
        i += 1
      }
      ys
    }

    /** spec 7.2.4: amplitude cascade + line render into n2 values. */
    def curve(ys: Array[Int], n2: Int, dbtab: Array[Double])
        : Array[Double] = {
      val count = xs.length
      val fin = new Array[Int](count)
      val step2 = new Array[Boolean](count)
      fin(0) = ys(0)
      fin(1) = ys(1)
      step2(0) = true
      step2(1) = true
      var j = 2
      while (j < count) {
        val lo = lowNeighbor(xs, j)
        val hi = highNeighbor(xs, j)
        val pred = renderPoint(xs(lo), fin(lo), xs(hi), fin(hi), xs(j))
        val v = ys(j)
        val highroom = range - pred
        val lowroom = pred
        val room = 2 * (if (highroom < lowroom) highroom else lowroom)
        if (v != 0) {
          step2(lo) = true
          step2(hi) = true
          step2(j) = true
          if (v >= room) {
            if (highroom > lowroom) fin(j) = v - lowroom + pred
            else fin(j) = pred - (v - highroom) - 1
          } else {
            if ((v & 1) != 0) fin(j) = pred - ((v + 1) >> 1)
            else fin(j) = pred + (v >> 1)
          }
        } else {
          step2(j) = false
          fin(j) = pred
        }
        j += 1
      }
      val floorY = new Array[Int](n2)
      var hx = 0
      var hy = 0
      var lx = 0
      var ly = clampI(fin(sortidx(0)), 0, range - 1) * multiplier
      var si = 0
      while (si < count) {
        val p = sortidx(si)
        if (step2(p)) {
          hx = xs(p)
          hy = clampI(fin(p), 0, range - 1) * multiplier
          if (hx > lx) renderLine(lx, ly, hx, hy, floorY, n2)
          lx = hx
          ly = hy
        }
        si += 1
      }
      if (hx < n2) {
        var i = hx
        while (i < n2) { floorY(i) = ly; i += 1 }
      }
      val out = new Array[Double](n2)
      var i = 0
      while (i < n2) { out(i) = dbtab(floorY(i)); i += 1 }
      out
    }
  }

  // -------------------------------------------------------------- residue --
  private final class Residue(br: LsbReader, val rtype: Int,
                              books: Array[Codebook]) {
    val begin: Int = br.read(24)
    val end: Int = br.read(24)
    val psize: Int = br.read(24) + 1
    val classifications: Int = br.read(6) + 1
    val classbook: Int = br.read(8)
    need(classbook < books.length, "residue classbook out of range")
    val cascade: Array[Int] = Array.fill(classifications) {
      val low = br.read(3)
      val high = if (br.bit() == 1) br.read(5) else 0
      (high << 3) | low
    }
    val booksMtx: Array[Array[Int]] = Array.tabulate(classifications) { c =>
      Array.tabulate(8) { p =>
        if ((cascade(c) & (1 << p)) != 0) {
          val b = br.read(8)
          need(b < books.length, "residue book out of range")
          need(books(b).lookup != 0, "residue book has no VQ lookup")
          b
        } else -1
      }
    }
    locally {
      val cb = books(classbook)
      need(math.pow(classifications.toDouble, cb.dims.toDouble) <=
        cb.entries.toDouble,
        "residue classbook smaller than classifications^dims")
    }

    /** spec 8.6.2; vectors per channel, each of length n. */
    def decode(br: LsbReader, books: Array[Codebook],
               doNotDecode: Array[Boolean], n: Int): Array[Array[Double]] = {
      val ch = doNotDecode.length
      if (rtype == 2) {
        if (doNotDecode.forall(identity))
          return Array.fill(ch)(new Array[Double](n))
        val big = Array(new Array[Double](n * ch))
        decodeCore(br, books, Array(false), n * ch, big)
        val out = Array.fill(ch)(new Array[Double](n))
        var i = 0
        while (i < n) {
          var j = 0
          while (j < ch) { out(j)(i) = big(0)(i * ch + j); j += 1 }
          i += 1
        }
        out
      } else {
        val vectors = Array.fill(ch)(new Array[Double](n))
        decodeCore(br, books, doNotDecode, n, vectors)
        vectors
      }
    }

    private def decodeCore(br: LsbReader, books: Array[Codebook],
                           doNotDecode: Array[Boolean], n: Int,
                           vectors: Array[Array[Double]]): Unit = {
      val limitBegin = math.min(begin, n)
      val limitEnd = math.min(end, n)
      val toRead = limitEnd - limitBegin
      if (toRead <= 0) return
      val cb = books(classbook)
      val classwords = cb.dims
      val parts = toRead / psize
      need(parts * psize == toRead,
        "residue [begin,end) not a multiple of the partition size")
      val ch = doNotDecode.length
      val cls = Array.fill(ch)(new Array[Int](parts + classwords))
      try {
        passes(br, books, doNotDecode, cb, classwords, parts, cls,
          vectors, limitBegin)
      } catch {
        case _: Eop => () // spec 1.1.4: keep the partial decode
      }
    }

    private def passes(br: LsbReader, books: Array[Codebook],
                       doNotDecode: Array[Boolean], cb: Codebook,
                       classwords: Int, parts: Int,
                       cls: Array[Array[Int]],
                       vectors: Array[Array[Double]],
                       limitBegin: Int): Unit = {
      val ch = doNotDecode.length
      val fmt0 = rtype == 0
      var maxpass = 1
      var c = 0
      while (c < cascade.length) {
        maxpass = math.max(maxpass, ilog(cascade(c)))
        c += 1
      }
      val tmp = new Array[Double](64)
      var p = 0
      while (p < maxpass) {
        var pcount = 0
        while (pcount < parts) {
          if (p == 0) {
            var j = 0
            while (j < ch) {
              if (!doNotDecode(j)) {
                var temp = cb.decodeScalar(br)
                var i = classwords - 1
                while (i >= 0) {
                  cls(j)(pcount + i) = temp % classifications
                  temp /= classifications
                  i -= 1
                }
              }
              j += 1
            }
          }
          var i = 0
          while (i < classwords && pcount < parts) {
            var j = 0
            while (j < ch) {
              if (!doNotDecode(j)) {
                val vqclass = cls(j)(pcount)
                val book = booksMtx(vqclass)(p)
                if (book >= 0)
                  partition(br, books(book), vectors(j),
                    limitBegin + pcount * psize, fmt0, tmp)
              }
              j += 1
            }
            i += 1
            pcount += 1
          }
        }
        p += 1
      }
    }

    private def partition(br: LsbReader, book: Codebook,
                          vec: Array[Double], offset: Int, fmt0: Boolean,
                          tmp: Array[Double]): Unit = {
      val dim = book.dims
      need(dim <= tmp.length, "residue book dims > 64")
      need(psize % dim == 0,
        "residue partition size not a multiple of book dims")
      if (fmt0) { // spec 8.6.3, residue type 0: interleaved
        val step = psize / dim
        var i = 0
        while (i < step) {
          val entry = book.decodeScalar(br)
          book.vq(entry, tmp)
          var j = 0
          while (j < dim) {
            vec(offset + i + j * step) += tmp(j)
            j += 1
          }
          i += 1
        }
      } else { // residue types 1/2: sequential
        var i = 0
        while (i < psize) {
          val entry = book.decodeScalar(br)
          book.vq(entry, tmp)
          var j = 0
          while (j < dim) {
            vec(offset + i) += tmp(j)
            i += 1
            j += 1
          }
        }
      }
    }
  }

  // -------------------------------------------------------------- mapping --
  private final class Mapping(br: LsbReader, channels: Int, nfloors: Int,
                              nresidues: Int) {
    need(br.read(16) == 0, "reserved mapping type")
    val submaps: Int = if (br.bit() == 1) br.read(4) + 1 else 1
    val coupling: Array[(Int, Int)] =
      if (br.bit() == 1) {
        val steps = br.read(8) + 1
        val bits = ilog(channels - 1)
        Array.fill(steps) {
          val m = br.read(bits)
          val a = br.read(bits)
          need(m != a && m < channels && a < channels, "bad coupling pair")
          (m, a)
        }
      } else Array.empty
    need(br.read(2) == 0, "mapping reserved bits nonzero")
    val mux: Array[Int] =
      if (submaps > 1) {
        val m = Array.fill(channels)(br.read(4))
        need(m.forall(_ < submaps), "mapping mux out of range")
        m
      } else new Array[Int](channels)
    val floorOf = new Array[Int](submaps)
    val residueOf = new Array[Int](submaps)
    locally {
      var s = 0
      while (s < submaps) {
        br.read(8) // unused time config
        floorOf(s) = br.read(8)
        need(floorOf(s) < nfloors, "mapping floor out of range")
        residueOf(s) = br.read(8)
        need(residueOf(s) < nresidues, "mapping residue out of range")
        s += 1
      }
    }
  }

  // ------------------------------------------------------------ transforms --
  /** Radix-2 DIT complex FFT, mirrored op for op from common.py. */
  private[multimodal] def fftInplace(re: Array[Double], im: Array[Double],
                         tw: Array[Double]): Unit = {
    val h = re.length
    var j = 0
    var i = 1
    while (i < h) {
      var bit = h >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var size = 2
    while (size <= h) {
      val half = size >> 1
      val step = h / size
      var base = 0
      while (base < h) {
        var k = 0
        while (k < half) {
          val wr = tw(2 * (k * step))
          val wi = tw(2 * (k * step) + 1)
          val p = base + k
          val q = p + half
          val tr = re(q) * wr - im(q) * wi
          val ti = re(q) * wi + im(q) * wr
          re(q) = re(p) - tr
          im(q) = im(p) - ti
          re(p) = re(p) + tr
          im(p) = im(p) + ti
          k += 1
        }
        base += size
      }
      size <<= 1
    }
  }

  /** DCT-IV of `v` (length m) via one complex FFT of size m/2 — the
    * factorization in the module doc, shared verbatim by the IMDCT
    * below and [[VorbisEncoder]]'s forward MDCT (common.py dct4_fast
    * is the Python mirror of exactly this operation order). */
  private[multimodal] def dct4(v: Array[Double], pre: Array[Double],
                               post: Array[Double], ffttw: Array[Double])
      : Array[Double] = {
    val m = v.length
    val h = m / 2
    val re = new Array[Double](h)
    val im = new Array[Double](h)
    var k = 0
    while (k < h) {
      val a = v(2 * k)
      val b = v(m - 1 - 2 * k)
      val pr = pre(2 * k)
      val pi = pre(2 * k + 1)
      re(k) = a * pr - b * pi
      im(k) = a * pi + b * pr
      k += 1
    }
    fftInplace(re, im, ffttw)
    val c = new Array[Double](m)
    var j = 0
    while (j < h) {
      val pr = post(2 * j)
      val pi = post(2 * j + 1)
      val cr = re(j) * pr - im(j) * pi
      val ci = re(j) * pi + im(j) * pr
      c(2 * j) = cr
      c(m - 1 - 2 * j) = -ci
      j += 1
    }
    c
  }

  /** IMDCT via DCT-IV (derivation in the module doc); out length n. */
  private def imdct(spec: Array[Double], n: Int, pre: Array[Double],
                    post: Array[Double], ffttw: Array[Double],
                    out: Array[Double]): Unit = {
    val m = n / 2
    val c = dct4(spec, pre, post, ffttw)
    val half = m / 2
    var i = 0
    while (i < half) { out(i) = c(i + half); i += 1 }
    while (i < 3 * half) { out(i) = -c(3 * half - 1 - i); i += 1 }
    while (i < 2 * m) { out(i) = -c(i - 3 * half); i += 1 }
  }

  // --------------------------------------------------------------- decode --
  private final class Stream(data: Array[Byte]) {
    val (packets, pageGranules) = oggPackets(data)
    need(packets.length >= 4, "need 3 headers + >=1 audio packet")
    // ident (spec 4.2.2)
    var channels = 0
    var rate = 0
    var n0 = 0
    var n1 = 0
    locally {
      val p = packets(0)
      val br = packetBits(p)
      need(br.read(8) == 1, "first packet is not an ident header")
      need(hasMagic(p), "ident header magic missing")
      br.bitPos = 7 * 8
      need(br.readLong(32) == 0L, "vorbis_version != 0")
      channels = br.read(8)
      rate = br.readLong(32).toInt
      need(channels > 0 && rate > 0, "bad channels/rate")
      br.readLong(32) // bitrate maximum, nominal, minimum
      br.readLong(32)
      br.readLong(32)
      val b0 = br.read(4)
      val b1 = br.read(4)
      n0 = 1 << b0
      n1 = 1 << b1
      need(n0 >= 64 && n1 <= 8192, "blocksize outside [64, 8192]")
      need(n0 <= n1, "blocksize_0 > blocksize_1")
      need(br.bit() == 1, "ident framing bit unset")
    }
    private def hasMagic(p: Array[Byte]): Boolean =
      p.length >= 7 && p(1) == 'v' && p(2) == 'o' && p(3) == 'r' &&
        p(4) == 'b' && p(5) == 'i' && p(6) == 's'
    // comment (spec 5): checked for framing, its text is not kept
    locally {
      val p = packets(1)
      val br = packetBits(p)
      need(br.read(8) == 3, "second packet is not a comment header")
      need(hasMagic(p), "comment header magic missing")
      br.bitPos = 7 * 8
      val vlen = br.readLong(32).toInt
      need(vlen >= 0 && 11 + vlen <= p.length, "comment vendor overruns")
      br.bitPos = (11 + vlen) * 8
      val ncom = br.readLong(32).toInt
      need(ncom >= 0, "negative comment count")
      var i = 0
      while (i < ncom) {
        val ln = br.readLong(32).toInt
        val at = br.bitPos / 8
        need(ln >= 0 && at + ln <= p.length, "comment overruns packet")
        br.bitPos = (at + ln) * 8
        i += 1
      }
      need(br.bit() == 1, "comment framing bit unset")
    }
    // setup (spec 4.2.4)
    var books: Array[Codebook] = null
    var floors: Array[Floor1] = null
    var residues: Array[Residue] = null
    var mappings: Array[Mapping] = null
    var modes: Array[(Int, Int)] = null
    locally {
      val p = packets(2)
      val br = packetBits(p)
      need(br.read(8) == 5, "third packet is not a setup header")
      need(hasMagic(p), "setup header magic missing")
      br.bitPos = 7 * 8
      books = Array.fill(br.read(8) + 1)(new Codebook(br))
      var t = br.read(6) + 1
      while (t > 0) {
        need(br.read(16) == 0, "nonzero time-domain transform type")
        t -= 1
      }
      floors = Array.fill(br.read(6) + 1) {
        br.read(16) match {
          case 1 => new Floor1(br, books)
          case 0 => throw new VorbisException(
            "floor type 0 (LSP) unsupported: no known encoder has " +
              "emitted it since Xiph beta3 (~2001); floor 1 only")
          case o => throw new VorbisException(s"reserved floor type $o")
        }
      }
      residues = Array.fill(br.read(6) + 1) {
        val rtype = br.read(16)
        need(rtype >= 0 && rtype <= 2, "reserved residue type")
        new Residue(br, rtype, books)
      }
      mappings = Array.fill(br.read(6) + 1)(
        new Mapping(br, channels, floors.length, residues.length))
      modes = Array.fill(br.read(6) + 1) {
        val blockflag = br.bit()
        need(br.read(16) == 0, "nonzero mode window type")
        need(br.read(16) == 0, "nonzero mode transform type")
        val mapping = br.read(8)
        need(mapping < mappings.length, "mode mapping out of range")
        (blockflag, mapping)
      }
      need(br.bit() == 1, "setup framing bit unset")
    }
    val audio: Vector[Array[Byte]] = packets.drop(3)
    val granules: Map[Int, Long] =
      pageGranules.collect { case (i, g) if i >= 3 => (i - 3, g) }.toMap
  }

  /** Decode the whole stream to interleaved 16-bit PCM. Mirrors
    * decoder.py Decoder.decode + _decode_spectra op for op. */
  def decodeSamples(data: Array[Byte]): AudioConvert.AudioBuf = {
    val st = new Stream(data)
    val ch = st.channels
    val dbtab = Tables.dbtab
    val out = Array.fill(ch)(new scala.collection.mutable.ArrayBuffer[Double]())
    var prevTail: Array[Array[Double]] = null
    var prevLapLen = 0
    var emitted = 0L
    var trimTo = -1L
    var pktI = 0
    while (pktI < st.audio.length) {
      val p = st.audio(pktI)
      if (p.length == 0) {
        // zero-length packet: spec 1.1.4 no-op
      } else {
        val br = packetBits(p)
        need(br.bit() == 0, "audio packet type bit set")
        val modeI = br.read(ilog(st.modes.length - 1))
        need(modeI < st.modes.length, "mode number out of range")
        val (blockflag, mapI) = st.modes(modeI)
        val n = if (blockflag == 1) st.n1 else st.n0
        var prevFlag = 1
        var nextFlag = 1
        if (blockflag == 1) {
          prevFlag = br.bit()
          nextFlag = br.bit()
        }
        val spectra = decodeSpectra(st, br, mapI, n)
        val n2 = n / 2
        val (pre, post, ffttw) = Tables.twiddles(n)
        var ls = 0; var le = n2; var lsz = n2
        var rs = n2; var re = n; var rsz = n2
        if (blockflag == 1 && prevFlag == 0) {
          ls = n / 4 - st.n0 / 4; le = n / 4 + st.n0 / 4; lsz = st.n0 / 2
        }
        if (blockflag == 1 && nextFlag == 0) {
          rs = 3 * n / 4 - st.n0 / 4; re = 3 * n / 4 + st.n0 / 4
          rsz = st.n0 / 2
        }
        val lslope = Tables.slope(if (lsz == st.n0 / 2) st.n0 else n)
        val rslope = Tables.slope(if (rsz == st.n0 / 2) st.n0 else n)
        val windows = new Array[Array[Double]](ch)
        var c = 0
        while (c < ch) {
          val t = new Array[Double](n)
          imdct(spectra(c), n, pre, post, ffttw, t)
          var i = 0
          while (i < ls) { t(i) = 0.0; i += 1 }
          i = 0
          while (i < lsz) { t(ls + i) *= lslope(i); i += 1 }
          i = 0
          while (i < rsz) { t(rs + i) *= rslope(rsz - 1 - i); i += 1 }
          i = re
          while (i < n) { t(i) = 0.0; i += 1 }
          windows(c) = t
          c += 1
        }
        if (prevTail != null) {
          need(prevLapLen == le - ls,
            "window slopes of adjacent blocks disagree (window flags " +
              "inconsistent with block sizes)")
          c = 0
          while (c < ch) {
            val cur = windows(c)
            val tail = prevTail(c)
            var i = 0
            while (i < rs - ls) {
              var v = cur(ls + i)
              if (i < tail.length) v += tail(i)
              out(c) += v
              i += 1
            }
            c += 1
          }
          emitted += rs - ls
          st.granules.get(pktI).foreach { g =>
            if (pktI == st.audio.length - 1) {
              need(g <= emitted, "final granule beyond decoded samples")
              trimTo = g
            } else need(g == emitted,
              s"mid-stream granule does not match sample count " +
                s"($g != $emitted)")
          }
        } else {
          val g = st.granules.get(pktI)
          need(g.isEmpty || g.contains(0L) || st.audio.length == 1,
            "granule on a page that emitted no samples")
        }
        prevTail = windows.map(w => java.util.Arrays.copyOfRange(w, rs, re))
        prevLapLen = re - rs
      }
      pktI += 1
    }
    var frames = emitted
    if (trimTo >= 0) frames = math.min(emitted, trimTo)
    need(frames <= Int.MaxValue / math.max(ch, 1), "stream too long")
    val nf = frames.toInt
    val pcm = new Array[Int](nf * ch)
    var i = 0
    while (i < nf) {
      var c = 0
      while (c < ch) {
        var v = math.floor(out(c)(i) * 32768.0 + 0.5).toInt
        if (v < -32768) v = -32768 else if (v > 32767) v = 32767
        pcm(i * ch + c) = v
        c += 1
      }
      i += 1
    }
    AudioConvert.AudioBuf(ch, st.rate, 16, pcm)
  }

  private def decodeSpectra(st: Stream, br: LsbReader, mapI: Int,
                            n: Int): Array[Array[Double]] = {
    val mp = st.mappings(mapI)
    val ch = st.channels
    val n2 = n / 2
    val floorYs = new Array[Array[Int]](ch)
    try {
      var c = 0
      while (c < ch) {
        val fl = st.floors(mp.floorOf(mp.mux(c)))
        floorYs(c) = fl.decode(br, st.books)
        c += 1
      }
    } catch {
      case _: Eop => return Array.fill(ch)(new Array[Double](n2))
    }
    val noResidue = floorYs.map(_ == null)
    mp.coupling.foreach { case (m, a) =>
      if (!(noResidue(m) && noResidue(a))) {
        noResidue(m) = false
        noResidue(a) = false
      }
    }
    val residues = new Array[Array[Double]](ch)
    var s = 0
    while (s < mp.submaps) {
      val chans = (0 until ch).filter(mp.mux(_) == s).toArray
      val dnd = chans.map(noResidue)
      val res = st.residues(mp.residueOf(s))
      val vecs = res.decode(br, st.books, dnd, n2)
      var idx = 0
      while (idx < chans.length) {
        residues(chans(idx)) = vecs(idx)
        idx += 1
      }
      s += 1
    }
    var ci = mp.coupling.length - 1
    while (ci >= 0) {
      val (m, a) = mp.coupling(ci)
      val mv = residues(m)
      val av = residues(a)
      var i = 0
      while (i < n2) {
        val mm = mv(i)
        val aa = av(i)
        var newM = 0.0
        var newA = 0.0
        if (mm > 0) {
          if (aa > 0) { newM = mm; newA = mm - aa }
          else { newA = mm; newM = mm + aa }
        } else {
          if (aa > 0) { newM = mm; newA = mm + aa }
          else { newA = mm; newM = mm - aa }
        }
        mv(i) = newM
        av(i) = newA
        i += 1
      }
      ci -= 1
    }
    val spectra = new Array[Array[Double]](ch)
    var c = 0
    while (c < ch) {
      if (floorYs(c) == null) spectra(c) = new Array[Double](n2)
      else {
        val fl = st.floors(mp.floorOf(mp.mux(c)))
        val curve = fl.curve(floorYs(c), n2, Tables.dbtab)
        val r = residues(c)
        val sp = new Array[Double](n2)
        var i = 0
        while (i < n2) { sp(i) = curve(i) * r(i); i += 1 }
        spectra(c) = sp
      }
      c += 1
    }
    spectra
  }
}
