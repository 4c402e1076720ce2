package graft.fixtures

import java.nio.{ByteBuffer, ByteOrder}

import graft.util.{ByteSink, MsbWriter}

/** Deterministic media payload generators for the real pure-JVM codecs
  * ([[graft.multimodal.MediaCodecs]]): BMP (8/24/32 bpp BI_RGB, or 8-bpp
  * BI_RLE8), binary PNM (P6 RGB / P5 gray), PNG (plain or Adam7), GIF
  * (plain or interlaced), TIFF (raw or PackBits strips), and canonical
  * RIFF/WAVE PCM (16- or 8-bit). Pixel bytes follow `(seed + y) % 256`
  * per image row y — the pixel-sum a correct decode must report is
  * `channels * width * Σ_y (seed + y) % 256`, which stays SQL-recomputable
  * (closed form when seed + height <= 256), and every compressed/encoded
  * variant carries the SAME pixel content as its plain counterpart.
  */
object MediaFixtures {

  /** Shared BMP file header + BITMAPINFOHEADER (+ grayscale palette at
    * 8 bpp) — the one header layout both BMP writers emit. */
  private def bmpHeader(buf: ByteBuffer, width: Int, storedHeight: Int,
                        bpp: Int, compression: Int, imageSize: Int): Unit = {
    val paletteEntries = if (bpp == 8) 256 else 0
    // 32-bpp fixtures carry REAL alpha, which to the ecosystem (and our
    // decoder, Pillow parity) needs a V4 header with BI_BITFIELDS masks —
    // plain 32-bpp BI_RGB is BGRX padding and decodes as mode RGB
    val v4 = bpp == 32
    val hdrSize = if (v4) 108 else 40
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(buf.capacity())
    buf.putInt(0)
    buf.putInt(14 + hdrSize + paletteEntries * 4) // pixel data offset
    buf.putInt(hdrSize)
    buf.putInt(width)
    buf.putInt(storedHeight)
    buf.putShort(1) // planes
    buf.putShort(bpp.toShort)
    buf.putInt(if (v4) 3 else compression) // BI_BITFIELDS for 32-bpp
    buf.putInt(imageSize)
    buf.putInt(2835).putInt(2835) // 72 dpi
    buf.putInt(paletteEntries)
    buf.putInt(0)
    if (v4) {
      buf.putInt(0x00ff0000).putInt(0x0000ff00).putInt(0x000000ff).putInt(0xff000000)
      buf.putInt(0x73524742) // 'sRGB'
      for (_ <- 0 until 12) buf.putInt(0) // CIEXYZ endpoints + gammas
    }
    for (v <- 0 until paletteEntries) // grayscale palette
      buf.put(v.toByte).put(v.toByte).put(v.toByte).put(0.toByte)
  }

  /** bpp ∈ {8, 24, 32}; topDown stores a negative height (row order flips
    * on disk, pixel content per image row y is unchanged). */
  def bmp(width: Int, height: Int, bpp: Int, seed: Int, topDown: Boolean = false): Array[Byte] = {
    require(Set(8, 24, 32)(bpp), s"bpp $bpp")
    val paletteSize = if (bpp == 8) 256 * 4 else 0
    val rowBytes = width * (bpp / 8)
    val stride = (rowBytes + 3) & ~3
    val dataOffset = 14 + (if (bpp == 32) 108 else 40) + paletteSize
    val buf = ByteBuffer.allocate(dataOffset + stride * height).order(ByteOrder.LITTLE_ENDIAN)
    bmpHeader(buf, width, if (topDown) -height else height, bpp,
      compression = 0, imageSize = stride * height)
    // pixel rows: bottom-up unless topDown
    val rows = if (topDown) 0 until height else (height - 1) to 0 by -1
    for (y <- rows) {
      val v = ((seed + y) % 256).toByte
      for (_ <- 0 until rowBytes) buf.put(v)
      for (_ <- rowBytes until stride) buf.put(0.toByte)
    }
    buf.array()
  }

  /** 8-bpp BI_RLE8 BMP with the same per-row content as `bmp(w, h, 8, seed)`:
    * even rows as encoded runs, odd rows (width >= 3) as one absolute run
    * (word-padded), an EOL escape after every row and EOB at the end — the
    * decoded index sum must equal the uncompressed 8-bpp variant's. */
  def bmpRle8(width: Int, height: Int, seed: Int): Array[Byte] = {
    val px = new java.io.ByteArrayOutputStream()
    for (y <- (height - 1) to 0 by -1) { // bottom-up like the plain writer
      val v = (seed + y) % 256
      if (y % 2 == 0 || width < 3) { // encoded runs of up to 255
        var rem = width
        while (rem > 0) {
          val n = math.min(255, rem)
          px.write(n); px.write(v)
          rem -= n
        }
      } else { // absolute mode: k in 3..255, padded to a word boundary
        var rem = width
        while (rem > 0) {
          val k = math.min(255, rem)
          if (k < 3) { px.write(k); px.write(v) } // tail too short for absolute
          else {
            px.write(0); px.write(k)
            for (_ <- 0 until k) px.write(v)
            if ((k & 1) == 1) px.write(0) // pad
          }
          rem -= k
        }
      }
      px.write(0); px.write(0) // end of line
    }
    px.write(0); px.write(1) // end of bitmap
    val pixels = px.toByteArray
    val dataOffset = 14 + 40 + 256 * 4
    val buf = ByteBuffer.allocate(dataOffset + pixels.length).order(ByteOrder.LITTLE_ENDIAN)
    bmpHeader(buf, width, height, bpp = 8, compression = 1, imageSize = pixels.length)
    buf.put(pixels)
    buf.array()
  }

  /** TIFF §13 LZW encoder (MSB-first bit packing, EarlyChange: the code
    * width grows at nextCode == (1<<w)-1, one code before the GIF
    * convention; a Clear is emitted at 4092 with safety margin, and the
    * final flush mirrors the decoder's lagging dictionary so EOI is
    * written at the width the decoder will read it with). */
  def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new MsbWriter
    var width = 9
    def put(code: Int): Unit = out.put(code, width)
    val Clear = 256
    val Eoi = 257
    if (data.isEmpty) { // empty strip (odd-height second strip): Clear + EOI
      put(Clear); put(Eoi)
      return out.toBytes
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = 258
    put(Clear)
    var prefix = data(0) & 0xff
    var k = 1
    while (k < data.length) {
      val c = data(k) & 0xff
      dict.get((prefix, c)) match {
        case Some(code) => prefix = code
        case None =>
          put(prefix)
          if (nextCode >= 4092) { // clear before the 12-bit table fills
            put(Clear)
            dict = scala.collection.mutable.HashMap.empty
            nextCode = 258
            width = 9
          } else {
            dict((prefix, c)) = nextCode
            nextCode += 1
            // EarlyChange, ENCODER side: one entry after the decoder's
            // (1<<w)-1 because the decoder's table lags this one by one
            // (cross-pinned against the JDK TIFF codec in
            // ImageIoConformanceSpec — the former (1<<w)-1 desynced it)
            if (nextCode == (1 << width) && width < 12) width += 1
          }
          prefix = c
      }
      k += 1
    }
    put(prefix)
    // the decoder adds an entry for this flush code too and (with its
    // (1<<w)-1 EarlyChange threshold) may grow its width on it: its table
    // then holds nextCode entries — grow when that hits the boundary
    if (nextCode == (1 << width) - 1 && width < 12) width += 1
    put(Eoi)
    out.toBytes
  }

  /** Minimal ISO-BMFF movie: ftyp + moov(mvhd + trak(tkhd)) + empty mdat.
    * `v1` uses the 64-bit (version 1) mvhd/tkhd layouts; width/height are
    * written 16.16 fixed-point as the spec requires. */
  def mp4(width: Int, height: Int, durationUnits: Long, timescale: Int,
          v1: Boolean = false, tags: Seq[(String, String)] = Nil): Array[Byte] = {
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val buf = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
      buf.putInt(8 + payload.length)
      buf.put(tpe.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      buf.put(payload)
      buf.array()
    }
    val ftyp = box("ftyp", "isomiso2".getBytes ++ Array[Byte](0, 0, 2, 0))
    val mvhd = {
      val buf = ByteBuffer.allocate(if (v1) 112 else 100).order(ByteOrder.BIG_ENDIAN)
      buf.putInt(if (v1) 0x01000000 else 0) // version + flags
      if (v1) { buf.putLong(0L).putLong(0L); buf.putInt(timescale); buf.putLong(durationUnits) }
      else { buf.putInt(0).putInt(0); buf.putInt(timescale); buf.putInt(durationUnits.toInt) }
      buf.putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, volume
      buf.putLong(0L) // reserved
      for (m <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(m)
      for (_ <- 0 until 6) buf.putInt(0) // pre_defined
      buf.putInt(2) // next_track_ID
      buf.array()
    }
    val tkhd = {
      val buf = ByteBuffer.allocate(if (v1) 96 else 84).order(ByteOrder.BIG_ENDIAN)
      buf.putInt(if (v1) 0x01000007 else 0x00000007) // version + enabled flags
      if (v1) { buf.putLong(0L).putLong(0L); buf.putInt(1); buf.putInt(0); buf.putLong(durationUnits) }
      else { buf.putInt(0).putInt(0); buf.putInt(1); buf.putInt(0); buf.putInt(durationUnits.toInt) }
      buf.putLong(0L) // reserved
      buf.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/volume/reserved
      for (m <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(m)
      buf.putInt(width << 16).putInt(height << 16) // 16.16
      buf.array()
    }
    // iTunes tags: moov/udta/meta(FullBox)/ilst, each item a fourcc-named
    // box holding a `data` box (type indicator 1 = UTF-8, then locale)
    val udta = if (tags.isEmpty) Array.emptyByteArray else {
      val hdlr = box("hdlr",
        Array[Byte](0, 0, 0, 0, 0, 0, 0, 0) ++
          "mdirappl".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
          Array.fill[Byte](10)(0))
      val items = tags.map { case (k, v) =>
        box(k, box("data",
          Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++
            v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }.reduce(_ ++ _)
      box("udta", box("meta", Array[Byte](0, 0, 0, 0) ++ hdlr ++ box("ilst", items)))
    }
    val moov = box("moov",
      box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)) ++ udta)
    ftyp ++ moov ++ box("mdat", Array.emptyByteArray)
  }

  /** FLAC container: STREAMINFO (packed 20/3/5/36-bit audio parameters) +
    * VORBIS_COMMENT (little-endian lengths, KEY=value entries) + a padding
    * block flagged last; no audio frames (metadata-only fixture). */
  def flac(sampleRate: Int, channels: Int, bitsPerSample: Int,
           totalSamples: Long, tags: Seq[(String, String)]): Array[Byte] = {
    val out = new ByteSink()
    out.write("fLaC".getBytes)
    def block(tpe: Int, last: Boolean, body: Array[Byte]): Unit = {
      out.write((if (last) 0x80 else 0) | tpe)
      out.u24be(body.length)
      out.write(body)
    }
    val si = ByteBuffer.allocate(34).order(ByteOrder.BIG_ENDIAN)
    si.putShort(4096).putShort(4096) // block size bounds
    si.put(Array[Byte](0, 0, 0, 0, 0, 0)) // frame size bounds (unknown)
    var packed = sampleRate.toLong << 44
    packed |= (channels - 1).toLong << 41
    packed |= (bitsPerSample - 1).toLong << 36
    packed |= totalSamples & ((1L << 36) - 1)
    si.putLong(packed)
    si.put(new Array[Byte](16)) // md5 of unencoded audio (zero here)
    block(0, last = false, si.array())
    val vc = new ByteSink()
    val vendor = "graft".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    vc.u32le(vendor.length); vc.write(vendor)
    vc.u32le(tags.length)
    for ((k, v) <- tags) {
      val entry = s"$k=$v".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      vc.u32le(entry.length); vc.write(entry)
    }
    block(4, last = false, vc.toByteArray)
    block(1, last = true, new Array[Byte](8)) // padding
    out.toByteArray
  }

  /** Ogg Vorbis (RFC 3533 pages + Vorbis I headers): page 0 carries the
    * identification header (BOS), page 1 the comment + a stub setup
    * packet. Comment payloads > 255 bytes exercise 255-lacing packet
    * continuation; `splitComment` additionally ends page 1 mid-packet
    * (final lacing 255) so the comment spans a page boundary into a
    * continued (0x01) page. CRC fields are zero (parser doesn't verify). */
  def oggVorbis(channels: Int, sampleRate: Int, bitrateNominal: Int,
                tags: Seq[(String, String)],
                splitComment: Boolean = false): Array[Byte] = {
    def rawPage(seq: Int, headerType: Int, lacings: Seq[Int],
                data: Array[Byte]): Array[Byte] = {
      require(lacings.length <= 255, "fixture page overflow")
      require(lacings.sum == data.length, "lacing/data mismatch")
      val out = new ByteSink()
      out.write("OggS".getBytes)
      out.write(0) // version
      out.write(headerType)
      for (_ <- 0 until 8) out.write(0) // granule position
      out.write(Array[Byte](7, 7, 7, 7)) // serial
      out.u32le(seq) // page sequence
      for (_ <- 0 until 4) out.write(0) // crc (unverified)
      out.write(lacings.length)
      lacings.foreach(out.write)
      out.write(data, 0, data.length)
      out.toByteArray
    }
    def lacingsOf(p: Array[Byte]): Seq[Int] =
      Seq.fill(p.length / 255)(255) :+ (p.length % 255)
    def page(seq: Int, headerType: Int, packets: Seq[Array[Byte]]): Array[Byte] =
      rawPage(seq, headerType, packets.flatMap(lacingsOf),
        packets.foldLeft(Array.emptyByteArray)(_ ++ _))
    val id = ByteBuffer.allocate(30).order(ByteOrder.LITTLE_ENDIAN)
    id.put(1.toByte).put("vorbis".getBytes)
    id.putInt(0) // vorbis_version
    id.put(channels.toByte)
    id.putInt(sampleRate)
    id.putInt(0) // bitrate_maximum
    id.putInt(bitrateNominal)
    id.putInt(0) // bitrate_minimum
    id.put(0xb8.toByte) // blocksizes
    id.put(1.toByte) // framing
    val vc = new ByteSink()
    vc.write(3); vc.write("vorbis".getBytes)
    val vendor = "graft".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    vc.u32le(vendor.length); vc.write(vendor)
    vc.u32le(tags.length)
    for ((k, v) <- tags) {
      val entry = s"$k=$v".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      vc.u32le(entry.length); vc.write(entry)
    }
    vc.write(1) // framing bit
    val setup = Array[Byte](5) ++ "vorbis".getBytes // stub setup header
    val comment = vc.toByteArray
    val head = page(0, 0x02, Seq(id.array()))
    if (!splitComment)
      head ++ page(1, 0x00, Seq(comment, setup))
    else {
      // first 255 comment bytes end page 1 with lacing 255 (packet open);
      // page 2 carries the continued flag and the rest + setup
      require(comment.length > 255, "splitComment needs a >255-byte comment")
      val rest = comment.drop(255)
      head ++
        rawPage(1, 0x00, Seq(255), comment.take(255)) ++
        rawPage(2, 0x01, lacingsOf(rest) ++ lacingsOf(setup), rest ++ setup)
    }
  }

  /** ID3v2.3 or v2.4 tag with text frames: v2.4 uses syncsafe frame sizes
    * and UTF-8 (encoding 3); v2.3 plain big-endian sizes and ISO-8859-1
    * (encoding 0, the only single-byte encoding v2.3 defines) — BOTH
    * divergences the parser must get right. */
  def mp3Id3(frames: Seq[(String, String)], v24: Boolean = true): Array[Byte] = {
    val body = new ByteSink()
    for ((id, text) <- frames) {
      require(id.length == 4, s"frame id $id")
      body.write(id.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val payload = text.getBytes(
        if (v24) java.nio.charset.StandardCharsets.UTF_8
        else java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = payload.length + 1 // encoding byte
      if (v24) {
        body.write((size >>> 21) & 0x7f); body.write((size >>> 14) & 0x7f)
        body.write((size >>> 7) & 0x7f); body.write(size & 0x7f)
      } else body.u32be(size)
      body.write(0); body.write(0) // frame flags
      body.write(if (v24) 3 else 0) // UTF-8 / ISO-8859-1
      body.write(payload)
    }
    body.write(new Array[Byte](16)) // padding
    val frameBytes = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes)
    out.write(if (v24) 4 else 3); out.write(0) // version, revision
    out.write(0) // flags
    val sz = frameBytes.length
    out.write((sz >>> 21) & 0x7f); out.write((sz >>> 14) & 0x7f)
    out.write((sz >>> 7) & 0x7f); out.write(sz & 0x7f)
    out.write(frameBytes)
    out.toByteArray
  }

  /** Bare MPEG audio (.mp3): `nFrames` Layer III frame headers with zeroed
    * frame bodies — MPEG-1 (1152 samples/frame) or MPEG-2 (576), optional
    * leading ID3v2 tag and trailing 128-byte ID3v1 `TAG` block. Frame
    * length: (MPEG-1 ? 144000 : 72000) * kbps / rate, no padding bit. */
  def mp3Frames(mpeg2: Boolean, bitrateIdx: Int, freqIdx: Int, mono: Boolean,
                nFrames: Int, id3: Seq[(String, String)] = Nil,
                id3v1: Boolean = false): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14 && freqIdx >= 0 && freqIdx <= 2)
    val kbps = (if (mpeg2) Seq(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
                else Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))(bitrateIdx)
    val rate = Seq(44100, 48000, 32000)(freqIdx) >> (if (mpeg2) 1 else 0)
    val len = (if (mpeg2) 72000 else 144000) * kbps / rate
    val frame = new Array[Byte](len)
    frame(0) = 0xff.toByte
    frame(1) = (0xe0 | ((if (mpeg2) 2 else 3) << 3) | (1 << 1) | 1).toByte
    frame(2) = ((bitrateIdx << 4) | (freqIdx << 2)).toByte
    frame(3) = (if (mono) 0xc0 else 0x00).toByte
    val out = new java.io.ByteArrayOutputStream()
    if (id3.nonEmpty) out.write(mp3Id3(id3))
    for (_ <- 0 until nFrames) out.write(frame)
    if (id3v1) {
      val tag = new Array[Byte](128)
      tag(0) = 'T'; tag(1) = 'A'; tag(2) = 'G'
      out.write(tag)
    }
    out.toByteArray
  }

  /** P6 (RGB) or, with `gray`, P5 (PGM) binary raster. */
  def ppm(width: Int, height: Int, seed: Int, gray: Boolean = false): Array[Byte] = {
    val channels = if (gray) 1 else 3
    val magic = if (gray) "P5" else "P6"
    val header = s"$magic\n# graft fixture\n$width $height\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + width * height * channels)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    var k = header.length
    while (y < height) {
      val v = ((seed + y) % 256).toByte
      var x = 0
      while (x < width * channels) { out(k) = v; k += 1; x += 1 }
      y += 1
    }
    out
  }

  /** PNG, 8-bit depth, interlace 0 or Adam7. colorType ∈ {0 gray, 2 RGB,
    * 3 palette (grayscale PLTE), 6 RGBA}. Scanline filters CYCLE through
    * all five types (`y % 5` within each pass) before DEFLATE, so a
    * decoder only reproduces the `(seed + y) % 256` pixel bytes — and the
    * closed-form pixel sum — if its unfiltering (Sub/Up/Average/Paeth) is
    * correct; `adam7` re-slices the same rows into the 7 independently
    * filtered passes, leaving the pixel multiset (and sum) unchanged. */
  def png(width: Int, height: Int, colorType: Int, seed: Int,
          adam7: Boolean = false): Array[Byte] = {
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case o => throw new IllegalArgumentException(s"color type $o")
    }
    // pass sub-images: (imageRowOf(passRow), passWidth) per pass; the
    // whole image is the single pass of the non-interlaced layout
    val passes: Seq[(Int => Int, Int, Int)] =
      if (!adam7) Seq(((y: Int) => y, width, height))
      else graft.multimodal.MediaCodecs.Adam7Passes.map { case (x0, y0, dx, dy) =>
        val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
        val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
        ((k: Int) => y0 + k * dy, pw, ph)
      }.filter(p => p._2 > 0 && p._3 > 0)
    val filtered = new java.io.ByteArrayOutputStream()
    for ((rowOf, pw, ph) <- passes) {
      val rowBytes = pw * channels
      val prev = new Array[Int](rowBytes)
      var y = 0
      while (y < ph) {
        val v = (seed + rowOf(y)) % 256
        val filter = y % 5
        filtered.write(filter)
        var x = 0
        while (x < rowBytes) {
          val a = if (x >= channels) v else 0 // left (rows are constant-valued)
          val b = prev(x)
          val c = if (x >= channels) prev(x - channels) else 0
          val enc = filter match {
            case 0 => v
            case 1 => (v - a) & 0xff
            case 2 => (v - b) & 0xff
            case 3 => (v - ((a + b) >> 1)) & 0xff
            case _ =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              (v - pred) & 0xff
          }
          filtered.write(enc)
          x += 1
        }
        java.util.Arrays.fill(prev, v)
        y += 1
      }
    }

    val out = new ByteSink()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      out.u32be(data.length)
      val body = tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32
      crc.update(body)
      out.u32be(crc.getValue)
    }
    val ihdr = ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height) // big-endian by default
    ihdr.put(8.toByte).put(colorType.toByte)
    ihdr.put(0.toByte).put(0.toByte) // compression, filter method
    ihdr.put(if (adam7) 1.toByte else 0.toByte)
    chunk("IHDR", ihdr.array())
    if (colorType == 3) {
      val plte = new Array[Byte](256 * 3)
      for (v <- 0 until 256; ch <- 0 until 3) plte(v * 3 + ch) = v.toByte
      chunk("PLTE", plte)
    }
    // split the stream across two IDAT chunks: decoders must concatenate
    val z = graft.util.Inflate.deflate(filtered.toByteArray)
    val cut = z.length / 2
    chunk("IDAT", java.util.Arrays.copyOfRange(z, 0, cut))
    chunk("IDAT", java.util.Arrays.copyOfRange(z, cut, z.length))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** GIF87a, 256-entry grayscale global color table, one image, REAL LZW
    * compression (greedy dictionary build, variable code width 9→12 bits,
    * LSB-first packing, clear-code reset at 4096, data split into ≤255-byte
    * sub-blocks). Pixels are palette indices `(seed + y) % 256` per row, so
    * the decoded index sum has the same closed form as the other image
    * fixtures — but only a correct LZW decode (including width growth at
    * 512/1024/2048 and post-clear resync) reproduces it. */
  def gif(width: Int, height: Int, seed: Int,
          interlace: Boolean = false, frames: Int = 1,
          screenPadRight: Int = 0, screenPadBottom: Int = 0,
          frameLeft: Int = 0, frameTop: Int = 0, bgIndex: Int = 0): Array[Byte] = {
    // row y holds (seed + y) % 256; interlaced frames store rows in the
    // GIF 4-pass order (0,8,.. / 4,12,.. / 2,6,.. / 1,3,..) — a genuinely
    // different LZW stream whose decoded index sum must be unchanged
    val rowOrder: Seq[Int] =
      if (!interlace) 0 until height
      else (0 until height by 8) ++ (4 until height by 8) ++
        (2 until height by 4) ++ (1 until height by 2)
    val pixels = new Array[Byte](width * height)
    var i = 0
    for (y <- rowOrder; _ <- 0 until width) { pixels(i) = ((seed + y) % 256).toByte; i += 1 }
    // the LZW convention (width growth, clear-at-full, flush mirror) lives
    // in ONE place: the production encoder
    val lzw = graft.multimodal.ImageConvert.gifLzwEncode(pixels)

    val buf = new ByteSink()
    buf.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // the logical screen may exceed the frame rect (sub-rect-frame arm);
    // the canvas outside it is the background color index
    buf.u16le(frameLeft + width + screenPadRight)
    buf.u16le(frameTop + height + screenPadBottom)
    buf.write(0xf7) // GCT present, color res 8, GCT size 256
    buf.write(bgIndex); buf.write(0)
    for (v <- 0 until 256; _ <- 0 until 3) buf.write(v) // grayscale palette
    for (_ <- 0 until frames) { // extra frames repeat the same payload
      buf.write(0x2c) // image descriptor
      buf.u16le(frameLeft); buf.u16le(frameTop); buf.u16le(width); buf.u16le(height)
      buf.write(if (interlace) 0x40 else 0) // no local table
      buf.write(8) // LZW min code size
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        buf.write(n)
        buf.write(lzw, off, n)
        off += n
      }
      buf.write(0) // block terminator
    }
    buf.write(0x3b) // trailer
    buf.toByteArray
  }

  /** Baseline TIFF 6.0, in EITHER byte order: pixel rows hold the constant
    * `(seed + y) % 256` per sample (1 sample gray, 3 RGB), split across TWO
    * strips so StripOffsets/StripByteCounts are external LONG arrays (the
    * out-of-field IFD value path); RGB also externalizes the 3-SHORT
    * BitsPerSample array while grayscale keeps it in-field. `packBits`
    * compresses each strip with PackBits RLE (even rows as replicate runs,
    * odd rows as literal runs, a -128 no-op leading strip 1); `lzw`
    * compresses each strip with TIFF §13 LZW (MSB-first, EarlyChange) —
    * either way the pixel content and closed-form sum stay identical. */
  def tiff(width: Int, height: Int, rgb: Boolean, bigEndian: Boolean, seed: Int,
           packBits: Boolean = false, lzw: Boolean = false): Array[Byte] = {
    require(!(packBits && lzw), "pick one compression")
    val spp = if (rgb) 3 else 1
    val rowBytes = width * spp
    val rows0 = (height + 1) / 2 // first strip
    def stripPayload(yFrom: Int, yUntil: Int, leadNoOp: Boolean): Array[Byte] = {
      if (lzw) {
        val raw = new java.io.ByteArrayOutputStream()
        var y = yFrom
        while (y < yUntil) {
          val v = ((seed + y) % 256).toByte
          var x = 0
          while (x < rowBytes) { raw.write(v); x += 1 }
          y += 1
        }
        return tiffLzwEncode(raw.toByteArray)
      }
      val out = new java.io.ByteArrayOutputStream()
      if (packBits && leadNoOp) out.write(-128 & 0xff)
      var y = yFrom
      while (y < yUntil) {
        val v = ((seed + y) % 256).toByte
        if (!packBits) {
          var x = 0
          while (x < rowBytes) { out.write(v); x += 1 }
        } else {
          var rem = rowBytes
          while (rem > 0) {
            val chunk = math.min(128, rem)
            if (y % 2 == 0 && chunk >= 2) { // replicate run: 1-n control
              out.write((1 - chunk) & 0xff); out.write(v)
            } else { // literal run of chunk bytes: n-1 control
              out.write(chunk - 1)
              var k = 0
              while (k < chunk) { out.write(v); k += 1 }
            }
            rem -= chunk
          }
        }
        y += 1
      }
      out.toByteArray
    }
    val payload0 = stripPayload(0, rows0, leadNoOp = false)
    val payload1 = stripPayload(rows0, height, leadNoOp = true)
    val strip0 = payload0.length
    val strip1 = payload1.length
    val extraBps = if (rgb) 6 else 0
    val nEntries = 9
    val arraysAt = 8 + strip0 + strip1
    val ifdAt = arraysAt + 16 + extraBps
    val buf = ByteBuffer.allocate(ifdAt + 2 + nEntries * 12 + 4)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    buf.put((if (bigEndian) "MM" else "II").getBytes)
    buf.putShort(42)
    buf.putInt(ifdAt)
    buf.put(payload0)
    buf.put(payload1)
    buf.putInt(8) // strip 0 offset
    buf.putInt(8 + strip0) // strip 1 offset
    buf.putInt(strip0)
    buf.putInt(strip1)
    if (rgb) { buf.putShort(8); buf.putShort(8); buf.putShort(8) }
    buf.putShort(nEntries.toShort)
    // entry helper: SHORT values sit in the FIRST two bytes of the field
    def entryShort(tag: Int, v: Int): Unit = {
      buf.putShort(tag.toShort); buf.putShort(3); buf.putInt(1)
      buf.putShort(v.toShort); buf.putShort(0)
    }
    def entryLong(tag: Int, v: Int): Unit = {
      buf.putShort(tag.toShort); buf.putShort(4); buf.putInt(1); buf.putInt(v)
    }
    def entryArray(tag: Int, tpe: Int, count: Int, off: Int): Unit = {
      buf.putShort(tag.toShort); buf.putShort(tpe.toShort); buf.putInt(count); buf.putInt(off)
    }
    entryLong(256, width)
    entryLong(257, height)
    if (rgb) entryArray(258, 3, 3, arraysAt + 16) else entryShort(258, 8)
    entryShort(259, if (packBits) 32773 else if (lzw) 5 else 1)
    entryShort(262, if (rgb) 2 else 1) // RGB / min-is-black
    entryArray(273, 4, 2, arraysAt) // strip offsets
    entryShort(277, spp)
    entryLong(278, rows0) // rows per strip
    entryArray(279, 4, 2, arraysAt + 8) // strip byte counts
    buf.putInt(0) // no next IFD
    buf.array()
  }

  /** PCM, canonical 44-byte header + `frames` frames of deterministic
    * samples: 16-bit LE `(seed + f) % 4096 - 2048`, or with `bits = 8`
    * unsigned `(seed + f) % 256` (decoded sample = value - 128). */
  def wav(channels: Int, sampleRate: Int, frames: Int, seed: Int,
          bits: Int = 16): Array[Byte] = {
    require(bits == 8 || bits == 16, s"bits $bits")
    val bytesPer = bits / 8
    val dataBytes = frames * channels * bytesPer
    val buf = ByteBuffer.allocate(44 + dataBytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes)
    buf.putInt(36 + dataBytes)
    buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes)
    buf.putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(channels.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * channels * bytesPer) // byte rate
    buf.putShort((channels * bytesPer).toShort)  // block align
    buf.putShort(bits.toShort)
    buf.put("data".getBytes)
    buf.putInt(dataBytes)
    var f = 0
    while (f < frames * channels) {
      if (bits == 16) buf.putShort((((seed + f) % 4096) - 2048).toShort)
      else buf.put(((seed + f) % 256).toByte)
      f += 1
    }
    buf.array()
  }

  /** FORM/AIFF PCM (big-endian) with the SAME deterministic sample series
    * as [[wav]] — 16-bit `(seed + f) % 4096 - 2048`, 8-bit decoded value
    * `(seed + f) % 256 - 128` (stored SIGNED per AIFF, vs WAV's unsigned
    * bias) — so either container feeds an identical decoded stream into
    * [[graft.multimodal.AudioConvert]]. Hand-packed independently of
    * `MediaCodecs.encodeAiff` (canonical 54-byte header: FORM + 18-byte
    * COMM with an 80-bit extended sample rate + zero-offset SSND) so the
    * production encoder/decoder pair is pinned by bytes it did not write. */
  def aiff(channels: Int, sampleRate: Int, frames: Int, seed: Int,
           bits: Int = 16): Array[Byte] = {
    require(bits == 8 || bits == 16, s"bits $bits")
    val bytesPer = bits / 8
    val dataBytes = frames * channels * bytesPer
    val buf = ByteBuffer.allocate(54 + dataBytes + (dataBytes & 1))
      .order(ByteOrder.BIG_ENDIAN)
    buf.put("FORM".getBytes)
    buf.putInt(46 + dataBytes + (dataBytes & 1))
    buf.put("AIFF".getBytes)
    buf.put("COMM".getBytes)
    buf.putInt(18)
    buf.putShort(channels.toShort)
    buf.putInt(frames)
    buf.putShort(bits.toShort)
    // 80-bit extended sample rate: sign 0, exponent 16383 + floor(log2),
    // 64-bit mantissa with explicit integer bit left-justified
    val pos = 63 - java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
    buf.putShort((16383 + pos).toShort)
    buf.putLong(sampleRate.toLong << (63 - pos))
    buf.put("SSND".getBytes)
    buf.putInt(8 + dataBytes)
    buf.putInt(0) // offset
    buf.putInt(0) // block size
    var f = 0
    while (f < frames * channels) {
      if (bits == 16) buf.putShort((((seed + f) % 4096) - 2048).toShort)
      else buf.put((((seed + f) % 256) - 128).toByte)
      f += 1
    }
    buf.array()
  }

  /** HEIF/AVIF still image for [[graft.multimodal.MediaCodecs.parseHeif]]:
    * ftyp(brand) + meta{pitm, iinf, iprp{ipco[ispe…], ipma}}. The primary
    * item (id 1) carries the canvas ispe; an optional thumbnail item
    * (id 2) carries its own, and `thumbFirst` puts the THUMBNAIL's ispe
    * first in ipco — a parser that grabs the first (or largest-index)
    * ispe instead of resolving pitm→ipma→ipco reports the wrong canvas.
    * Hand-packed independently of the production parser. */
  def heif(width: Int, height: Int, brand: String = "heic",
           thumb: Option[(Int, Int)] = None, thumbFirst: Boolean = false,
           pitmLast: Boolean = false): Array[Byte] = {
    def box(tpe: String, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + body.length).order(ByteOrder.BIG_ENDIAN)
      b.putInt(8 + body.length).put(tpe.getBytes("ISO-8859-1")).put(body)
      b.array()
    }
    def fullBox(tpe: String, body: Array[Byte]): Array[Byte] =
      box(tpe, new Array[Byte](4) ++ body) // version 0, flags 0
    def ispe(w: Int, h: Int): Array[Byte] = {
      val dims = new ByteSink(8)
      dims.u32be(w); dims.u32be(h)
      fullBox("ispe", dims.toByteArray)
    }
    val nItems = if (thumb.isDefined) 2 else 1
    val primaryIspe = ispe(width, height)
    val ipcoChildren = thumb match {
      case Some((tw, th)) if thumbFirst => ispe(tw, th) ++ primaryIspe
      case Some((tw, th)) => primaryIspe ++ ispe(tw, th)
      case None => primaryIspe
    }
    val primaryIdx = if (thumb.isDefined && thumbFirst) 2 else 1
    val thumbIdx = if (thumbFirst) 1 else 2
    // ipma ver 0 flags 0: u32 entry_count; per entry u16 itemId, u8 count,
    // then 1-byte associations (essential bit 0x80 off)
    val ipma = new ByteSink()
    ipma.u32be(nItems)
    ipma.u16be(1); ipma.write(1); ipma.write(primaryIdx)
    if (thumb.isDefined) { ipma.u16be(2); ipma.write(1); ipma.write(thumbIdx) }
    val iprp = box("iprp", box("ipco", ipcoChildren) ++ fullBox("ipma", ipma.toByteArray))
    val pitm = fullBox("pitm", Array[Byte](0, 1))
    val iinf = fullBox("iinf", Array[Byte](0, nItems.toByte))
    // ISO 14496-12 imposes no child order inside meta: pitmLast exercises
    // the legal ordering where the parser sees ipma BEFORE pitm
    val meta = fullBox("meta",
      if (pitmLast) iinf ++ iprp ++ pitm else pitm ++ iinf ++ iprp)
    val ftyp = box("ftyp", brand.getBytes("ISO-8859-1") ++ new Array[Byte](4))
    ftyp ++ meta
  }

  /** Header-only fixtures for the [[graft.multimodal.MediaCodecs.imageHeader]]
    * whitelist sweep (psd/icns/pcx/jp2/tga/eps/svg/xbm/xpm): each writes the
    * format's REAL published header layout (plus deterministic junk where a
    * body would sit) independently of the production parser. */
  def psd(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(26 + 16).order(ByteOrder.BIG_ENDIAN)
    b.put("8BPS".getBytes).putShort(1).put(new Array[Byte](6))
    b.putShort(3).putInt(height).putInt(width).putShort(8).putShort(3) // RGB
    b.array()
  }

  def icns(dims: Seq[Int]): Array[Byte] = {
    val typeOf = Map(16 -> "icp4", 32 -> "icp5", 64 -> "icp6",
      128 -> "ic07", 256 -> "ic08", 512 -> "ic09", 1024 -> "ic10")
    val out = new java.io.ByteArrayOutputStream()
    val entries = dims.map { d =>
      val body = Array.tabulate(12)(i => (d + i).toByte) // junk payload
      (typeOf(d), body)
    }
    val total = 8 + entries.map(8 + _._2.length).sum
    val hdr = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    hdr.put("icns".getBytes).putInt(total)
    out.write(hdr.array())
    for ((tpe, body) <- entries) {
      val e = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      e.put(tpe.getBytes).putInt(8 + body.length)
      out.write(e.array()); out.write(body)
    }
    out.toByteArray
  }

  def pcx(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(128 + 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x0a.toByte).put(5.toByte).put(1.toByte).put(8.toByte)
    b.putShort(0).putShort(0) // xmin, ymin
    b.putShort((width - 1).toShort).putShort((height - 1).toShort)
    b.array()
  }

  def jp2(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(12 + 20 + 8 + (8 + 14)).order(ByteOrder.BIG_ENDIAN)
    b.putInt(12).put("jP  ".getBytes).putInt(0x0d0a870a) // signature box
    b.putInt(20).put("ftyp".getBytes).put("jp2 ".getBytes)
      .putInt(0).put("jp2 ".getBytes)
    b.putInt(8 + 8 + 14).put("jp2h".getBytes)
    b.putInt(8 + 14).put("ihdr".getBytes)
    b.putInt(height).putInt(width).putShort(3).put(7.toByte).put(7.toByte)
    b.array()
  }

  def tga(width: Int, height: Int): Array[Byte] = {
    val body = 18 + width * height * 3
    val b = ByteBuffer.allocate(body + 26).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte).put(0.toByte).put(2.toByte) // uncompressed true-color
    b.put(new Array[Byte](9))
    b.putShort(width.toShort).putShort(height.toShort)
    b.put(24.toByte).put(0.toByte)
    b.position(body + 8) // zeroed pixel junk + footer ext/dev offsets
    b.put("TRUEVISION-XFILE.".getBytes).put(0.toByte)
    b.array()
  }

  def eps(width: Int, height: Int): Array[Byte] =
    (s"%!PS-Adobe-3.0 EPSF-3.0\n%%BoundingBox: 0 0 $width $height\n" +
      "%%EndComments\nshowpage\n").getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def xbm(width: Int, height: Int): Array[Byte] =
    (s"#define fixture_width $width\n#define fixture_height $height\n" +
      "static unsigned char fixture_bits[] = { 0x00 };\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def xpm(width: Int, height: Int): Array[Byte] =
    (s"/* XPM */\nstatic char *fixture[] = {\n\"$width $height 2 1\",\n" +
      "\". c #000000\",\n\"# c #ffffff\"\n};\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def svg(width: Int, height: Int, gzipped: Boolean = false): Array[Byte] = {
    val doc = (s"""<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/2000/svg" """ +
      s"""width="$width" height="$height"><rect width="$width" height="$height"/></svg>\n""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!gzipped) doc
    else {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(doc); gz.close()
      out.toByteArray
    }
  }

  /** WebP container for the header-level dims parse
    * ([[graft.multimodal.MediaCodecs.parseWebp]]): a real RIFF/WEBP wrapper
    * around the variant's genuine header bytes (VP8 sync code / VP8L
    * signature / VP8X canvas fields) followed by deterministic junk —
    * entropy-coded pixel data is not parsed, so the junk exercises exactly
    * what the parser must NOT read. `variant`: 0 = lossy VP8, 1 = lossless
    * VP8L, 2 = extended VP8X (+`frames` ANMF chunks when `frames > 1`). */
  def webp(width: Int, height: Int, variant: Int, frames: Int = 1,
           seed: Int = 0): Array[Byte] = {
    require(width >= 1 && height >= 1 && width <= 0x3fff && height <= 0x3fff)
    val out = new ByteSink()
    def chunk(fourcc: String, body: Array[Byte]): Unit = {
      out.write(fourcc.getBytes, 0, 4)
      out.u32le(body.length)
      out.write(body, 0, body.length)
      if ((body.length & 1) == 1) out.write(0) // RIFF 2-byte alignment
    }
    def junk(n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((seed + i * 31) & 0xff).toByte)
    variant match {
      case 0 =>
        // 3-byte frame tag, 9D 01 2A sync, u16le dims (14-bit)
        val b = ByteBuffer.allocate(10 + 16).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0.toByte).put(0.toByte).put(0.toByte)
        b.put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte)
        b.putShort(width.toShort).putShort(height.toShort)
        b.put(junk(16))
        chunk("VP8 ", b.array())
      case 1 =>
        // 0x2F signature + 14+14-bit dims-minus-one packed LSB-first
        val dims = (width - 1) | ((height - 1) << 14)
        val b = ByteBuffer.allocate(5 + 16).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0x2f.toByte).putInt(dims)
        b.put(junk(16))
        chunk("VP8L", b.array())
      case _ =>
        val b = new ByteSink(10)
        b.write(if (frames > 1) 0x02 else 0x00) // animation flag
        b.write(0); b.write(0); b.write(0)      // reserved
        b.u24le(width - 1); b.u24le(height - 1)
        chunk("VP8X", b.toByteArray)
        if (frames > 1) {
          var k = 0
          while (k < frames) { chunk("ANMF", junk(24)); k += 1 }
        } else {
          // a still VP8X file carries a VP8 frame whose FRAGMENT dims must
          // NOT override the canvas dims — regression surface for the parser
          val f = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
          f.put(0.toByte).put(0.toByte).put(0.toByte)
          f.put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte)
          f.putShort(1.toShort).putShort(1.toShort)
          chunk("VP8 ", f.array())
        }
    }
    val body = out.toByteArray
    val full = ByteBuffer.allocate(12 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    full.put("RIFF".getBytes).putInt(4 + body.length).put("WEBP".getBytes)
    full.put(body)
    full.array()
  }

  /** ICO for [[graft.multimodal.MediaCodecs.parseIco]]: ICONDIR with
    * `count` directory entries of descending size starting at
    * (`width`, `height`) — entry k is (width-k, height-k), each pointing at
    * a small deterministic BMP-ish blob (not parsed; only the directory
    * is). A 256-pixel axis is 0-coded per the ICONDIR convention. */
  /** CLASSIC (DIB) .ico with one BITMAPINFOHEADER entry — the pre-Vista
    * layout Pillow's IcoImagePlugin composites from an XOR bitmap + AND
    * mask. Height is stored DOUBLED per the format. XOR rows carry value
    * seed+y in every channel (8 bpp: a grayscale palette where entry i =
    * (i,i,i), index = seed+y; 24 bpp: BGR triplets), the 1-bpp AND mask
    * marks every third row (y % 3 == 0) fully transparent. Hand-packed
    * independently of the decoder, so the composite closed-form is
    * 3·w·(h·seed + h(h−1)/2) + 255·w·(h − ⌈h/3⌉) in RGBA convention. */
  def icoDib(width: Int, height: Int, bpp: Int, seed: Int): Array[Byte] = {
    require(bpp == 8 || bpp == 24, s"icoDib supports 8/24 bpp, not $bpp")
    require(width >= 1 && width <= 256 && height >= 1 && height <= 256)
    require(seed + height <= 256, "row values must not wrap the palette/byte")
    val paletteBytes = if (bpp == 8) 256 * 4 else 0
    val xorStride = (width * bpp / 8 + 3) & ~3
    val andStride = ((width + 31) / 32) * 4
    val dibLen = 40 + paletteBytes + xorStride * height + andStride * height
    val buf = ByteBuffer.allocate(6 + 16 + dibLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0).putShort(1).putShort(1)
    buf.put((if (width == 256) 0 else width).toByte)
    buf.put((if (height == 256) 0 else height).toByte)
    buf.put(0.toByte).put(0.toByte)
    buf.putShort(1).putShort(bpp.toShort)
    buf.putInt(dibLen).putInt(22)
    // BITMAPINFOHEADER with the doubled height
    buf.putInt(40).putInt(width).putInt(height * 2)
    buf.putShort(1).putShort(bpp.toShort)
    buf.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    if (bpp == 8) { // grayscale palette, BGRA entries
      var i = 0
      while (i < 256) {
        buf.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte)
        i += 1
      }
    }
    // XOR rows, bottom-up
    var sy = height - 1
    while (sy >= 0) {
      val v = (seed + sy).toByte
      var x = 0
      if (bpp == 8) {
        while (x < width) { buf.put(v); x += 1 }
        var pad = xorStride - width
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      } else {
        while (x < width) { buf.put(v).put(v).put(v); x += 1 }
        var pad = xorStride - width * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      }
      sy -= 1
    }
    // AND mask rows, bottom-up: every third raster row transparent
    sy = height - 1
    while (sy >= 0) {
      val b = if (sy % 3 == 0) 0xff.toByte else 0.toByte
      var i = 0
      while (i < andStride) { buf.put(b); i += 1 }
      sy -= 1
    }
    buf.array()
  }

  def ico(width: Int, height: Int, count: Int, seed: Int = 0): Array[Byte] = {
    require(count >= 1 && width - count >= 1 && height - count >= 1)
    require(width <= 256 && height <= 256)
    val blobLen = 8
    val buf = ByteBuffer.allocate(6 + count * 16 + count * blobLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0).putShort(1).putShort(count.toShort)
    var k = 0
    while (k < count) {
      val w = width - k
      val h = height - k
      buf.put((if (w == 256) 0 else w).toByte)
      buf.put((if (h == 256) 0 else h).toByte)
      buf.put(0.toByte)  // palette count
      buf.put(0.toByte)  // reserved
      buf.putShort(1)    // planes
      buf.putShort(32)   // bpp
      buf.putInt(blobLen)
      buf.putInt(6 + count * 16 + k * blobLen)
      k += 1
    }
    k = 0
    while (k < count * blobLen) { buf.put(((seed + k * 17) & 0xff).toByte); k += 1 }
    buf.array()
  }

  // ==========================================================================
  // Audio whitelist sweep fixtures — hand-packed per the published container
  // layouts, independently of graft.multimodal.MediaCodecs.audioHeader, so
  // the parsers are pinned by bytes they did not write.
  // ==========================================================================

  /** Sun/NeXT .au: 24-byte u32be header + data. Encodings: 1 = G.711 µ-law
    * (data = constant byte `ulawByte`), 2 = PCM8 signed, 3 = PCM16 BE —
    * the PCM encodings carry the SAME decoded series as [[wav]]/[[aiff]]
    * (16-bit `(seed+f)%4096-2048`, 8-bit `(seed+f)%256-128`). */
  def au(encoding: Int, channels: Int, sampleRate: Int, frames: Int,
         seed: Int, ulawByte: Int = 0xff): Array[Byte] = {
    val bytesPer = if (encoding == 3) 2 else 1
    val dataBytes = frames * channels * bytesPer
    val buf = ByteBuffer.allocate(24 + dataBytes).order(ByteOrder.BIG_ENDIAN)
    buf.put(".snd".getBytes)
    buf.putInt(24)
    buf.putInt(dataBytes)
    buf.putInt(encoding)
    buf.putInt(sampleRate)
    buf.putInt(channels)
    var f = 0
    while (f < frames * channels) {
      encoding match {
        case 1 => buf.put(ulawByte.toByte)
        case 2 => buf.put((((seed + f) % 256) - 128).toByte)
        case _ => buf.putShort((((seed + f) % 4096) - 2048).toShort)
      }
      f += 1
    }
    buf.array()
  }

  /** Apple CAF: caff header + desc (f64be rate, lpcm, flag bit1 = little-
    * endian) + data (u32be edit count + samples). 16-bit LPCM with the
    * [[wav]] sample series. */
  def caf(channels: Int, sampleRate: Int, frames: Int, seed: Int,
          little: Boolean): Array[Byte] = {
    val dataBytes = frames * channels * 2
    val buf = ByteBuffer.allocate(8 + 12 + 32 + 12 + 4 + dataBytes)
      .order(ByteOrder.BIG_ENDIAN)
    buf.put("caff".getBytes).putShort(1).putShort(0)
    buf.put("desc".getBytes).putLong(32)
    buf.putLong(java.lang.Double.doubleToLongBits(sampleRate.toDouble))
    buf.put("lpcm".getBytes)
    buf.putInt(if (little) 2 else 0)   // format flags
    buf.putInt(channels * 2)           // bytes per packet
    buf.putInt(1)                      // frames per packet
    buf.putInt(channels)
    buf.putInt(16)                     // bits per channel
    buf.put("data".getBytes).putLong(4L + dataBytes)
    buf.putInt(0)                      // edit count
    var f = 0
    while (f < frames * channels) {
      val v = (((seed + f) % 4096) - 2048).toShort
      if (little) { buf.put((v & 0xff).toByte); buf.put(((v >> 8) & 0xff).toByte) }
      else buf.putShort(v)
      f += 1
    }
    buf.array()
  }

  /** True Audio TTA1 header (no frame data needed for the header parse). */
  def tta(channels: Int, sampleRate: Int, samples: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(22).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("TTA1".getBytes)
    buf.putShort(1)                    // integer PCM
    buf.putShort(channels.toShort)
    buf.putShort(16)                   // bits per sample
    buf.putInt(sampleRate)
    buf.putInt(samples)
    buf.putInt(0)                      // header CRC (unverified)
    buf.array()
  }

  /** Monkey's Audio (APE >= 3.98): 52-byte descriptor + 24-byte header. */
  def ape(channels: Int, sampleRate: Int, blocksPerFrame: Int,
          totalFrames: Int, finalFrameBlocks: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(52 + 24).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("MAC ".getBytes)
    buf.putShort(3990.toShort)         // version 3.99
    buf.putShort(0)                    // padding
    buf.putInt(52)                     // descriptor bytes
    buf.putInt(24)                     // header bytes
    buf.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0) // seektable/wav-header/frame-data/hi/terminating
    buf.put(new Array[Byte](16))       // file MD5 (unverified)
    buf.putShort(2000.toShort)         // compression level
    buf.putShort(0)                    // format flags
    buf.putInt(blocksPerFrame)
    buf.putInt(finalFrameBlocks)
    buf.putInt(totalFrames)
    buf.putShort(16)                   // bits per sample
    buf.putShort(channels.toShort)
    buf.putInt(sampleRate)
    buf.array()
  }

  /** WavPack 32-byte block header; `rateIdx` indexes the published
    * 15-entry rate table; mono flag bit 2. */
  def wavpack(mono: Boolean, rateIdx: Int, totalSamples: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("wvpk".getBytes)
    buf.putInt(24)                     // ckSize (rest of header)
    buf.putShort(0x410.toShort)        // version
    buf.put(0.toByte)                  // block index u8
    buf.put(0.toByte)                  // total samples u8
    buf.putInt(totalSamples)
    buf.putInt(0)                      // block index
    buf.putInt(totalSamples)           // block samples
    buf.putInt((rateIdx << 23) | (if (mono) 4 else 0)) // flags
    buf.putInt(0)                      // crc (unverified)
    buf.array()
  }

  /** ADTS AAC: `nFrames` headers-plus-filler frames, 1024 samples each. */
  def adtsAac(freqIdx: Int, chanCfg: Int, nFrames: Int,
              frameBytes: Int = 32): Array[Byte] = {
    require(frameBytes >= 7 && frameBytes < 8192)
    val out = new Array[Byte](nFrames * frameBytes)
    var i = 0
    while (i < out.length) {
      out(i) = 0xff.toByte
      out(i + 1) = 0xf1.toByte         // MPEG-4, layer 00, no CRC
      out(i + 2) = ((1 << 6) | (freqIdx << 2) | ((chanCfg >> 2) & 1)).toByte // AAC-LC
      out(i + 3) = (((chanCfg & 3) << 6) | ((frameBytes >> 11) & 3)).toByte
      out(i + 4) = ((frameBytes >> 3) & 0xff).toByte
      out(i + 5) = (((frameBytes & 7) << 5) | 0x1f).toByte // buffer fullness hi
      out(i + 6) = 0xfc.toByte          // fullness lo + 1 AAC frame
      i += frameBytes
    }
    out
  }

  /** AC-3 syncframes: fscod/frmsizecod pick the size from the A/52 table
    * (the parser recomputes it); acmod-dependent mix-level fields are
    * zero-packed exactly as the bit grammar requires. */
  def ac3(fscod: Int, frmsizecod: Int, acmod: Int, lfeon: Int,
          nFrames: Int): Array[Byte] = {
    val kbps = Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320, 384, 448, 512, 576, 640)(frmsizecod >> 1)
    val words = fscod match {
      case 0 => 2 * kbps
      case 1 => (kbps.toLong * 96000 / 44100).toInt + (frmsizecod & 1)
      case _ => 3 * kbps
    }
    val frameBytes = words * 2
    val out = new Array[Byte](nFrames * frameBytes)
    var i = 0
    while (i < out.length) {
      out(i) = 0x0b; out(i + 1) = 0x77
      // crc1 (2 bytes, unverified) then fscod+frmsizecod
      out(i + 4) = ((fscod << 6) | frmsizecod).toByte
      out(i + 5) = (8 << 3).toByte     // bsid 8, bsmod 0
      // bit-pack acmod [+cmixlev][+surmixlev][+dsurmod] lfeon
      var bits = acmod
      var n = 3
      if ((acmod & 1) != 0 && acmod != 1) { bits = (bits << 2) | 2; n += 2 }
      if ((acmod & 4) != 0) { bits = (bits << 2) | 2; n += 2 }
      if (acmod == 2) { bits = bits << 2; n += 2 }
      bits = (bits << 1) | lfeon; n += 1
      val packed = bits << (16 - n)
      out(i + 6) = ((packed >> 8) & 0xff).toByte
      out(i + 7) = (packed & 0xff).toByte
      i += frameBytes
    }
    out
  }

  /** E-AC-3 syncframes: frmsiz gives the byte size directly. */
  def eac3(fscod: Int, numblkscod: Int, frameBytes: Int, acmod: Int,
           lfeon: Int, nFrames: Int): Array[Byte] = {
    require(frameBytes % 2 == 0 && frameBytes >= 16)
    val frmsiz = frameBytes / 2 - 1
    val out = new Array[Byte](nFrames * frameBytes)
    var i = 0
    while (i < out.length) {
      out(i) = 0x0b; out(i + 1) = 0x77
      out(i + 2) = ((frmsiz >> 8) & 7).toByte // strmtyp 0, substreamid 0
      out(i + 3) = (frmsiz & 0xff).toByte
      out(i + 4) = ((fscod << 6) | (numblkscod << 4) | (acmod << 1) | lfeon).toByte
      out(i + 5) = (11 << 3).toByte    // bsid 11
      i += frameBytes
    }
    out
  }

  /** DTS core frames: bit-packed ftype/short/cpf/nblks/fsize/amode/sfreq. */
  def dts(sfreqCode: Int, amode: Int, nblks: Int, frameBytes: Int,
          nFrames: Int): Array[Byte] = {
    require(frameBytes >= 96)
    val out = new Array[Byte](nFrames * frameBytes)
    var i = 0
    while (i < out.length) {
      out(i) = 0x7f; out(i + 1) = 0xfe.toByte
      out(i + 2) = 0x80.toByte; out(i + 3) = 0x01
      // 38 bits: 1 (ftype=1) + 5 (short=31) + 1 (cpf=0) + 7 nblks +
      // 14 fsize + 6 amode + 4 sfreq, then 2 zero pad to 40
      var v = 1L
      v = (v << 5) | 31
      v = (v << 1) | 0
      v = (v << 7) | nblks
      v = (v << 14) | (frameBytes - 1)
      v = (v << 6) | amode
      v = (v << 4) | sfreqCode
      v = v << 2
      var k = 0
      while (k < 5) { out(i + 4 + k) = ((v >> (32 - 8 * k)) & 0xff).toByte; k += 1 }
      i += frameBytes
    }
    out
  }

  /** MLP/TrueHD access units: AU 0 carries the major sync (+ rate nibble),
    * later AUs are minor. All AUs `auBytes` long. */
  def truehd(rateNibble: Int, nAu: Int, auBytes: Int = 24,
             mlp: Boolean = false): Array[Byte] = {
    require(auBytes % 2 == 0 && auBytes >= 12)
    val out = new Array[Byte](nAu * auBytes)
    var i = 0
    var first = true
    while (i < out.length) {
      val words = auBytes / 2
      out(i) = ((words >> 8) & 0x0f).toByte
      out(i + 1) = (words & 0xff).toByte
      if (first) {
        out(i + 4) = 0xf8.toByte; out(i + 5) = 0x72
        out(i + 6) = 0x6f; out(i + 7) = (if (mlp) 0xbb else 0xba).toByte
        // TrueHD: rate nibble leads format_info (byte 8); MLP format_info
        // leads with the quantization word lengths, rate nibble at byte 9
        out(i + (if (mlp) 9 else 8)) = (rateNibble << 4).toByte
        first = false
      }
      i += auBytes
    }
    out
  }

  /** ASF (.wma) header: File Properties (play duration 100 ns + preroll)
    * and one audio Stream Properties with a WAVEFORMATEX. */
  def asfWma(channels: Int, sampleRate: Int, durationMs: Long,
             prerollMs: Long): Array[Byte] = {
    def g(hex: String): Array[Byte] =
      hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val fileProps = ByteBuffer.allocate(104).order(ByteOrder.LITTLE_ENDIAN)
    fileProps.put(g("A1DCAB8C47A9CF118EE400C00C205365"))
    fileProps.putLong(104)
    fileProps.put(new Array[Byte](16)) // file id
    fileProps.putLong(0)               // file size
    fileProps.putLong(0)               // creation
    fileProps.putLong(0)               // data packets
    fileProps.putLong((durationMs + prerollMs) * 10000L) // play duration, 100 ns
    fileProps.putLong(0)               // send duration
    fileProps.putLong(prerollMs)
    fileProps.put(new Array[Byte](104 - 88))
    val wfx = 18
    val spSize = 24 + 54 + wfx
    val streamProps = ByteBuffer.allocate(spSize).order(ByteOrder.LITTLE_ENDIAN)
    streamProps.put(g("9107DCB7B7A9CF118EE600C00C205365"))
    streamProps.putLong(spSize)
    streamProps.put(g("409E69F84D5BCF11A8FD00805F5C442B")) // audio media
    streamProps.put(new Array[Byte](16)) // error correction type
    streamProps.putLong(0)             // time offset
    streamProps.putInt(wfx)            // type data length
    streamProps.putInt(0)              // ec data length
    streamProps.putShort(1)            // flags (stream number 1)
    streamProps.putInt(0)              // reserved
    streamProps.putShort(0x161.toShort) // WMA v2
    streamProps.putShort(channels.toShort)
    streamProps.putInt(sampleRate)
    streamProps.putInt(sampleRate * 2) // avg bytes/sec (unread)
    streamProps.putShort(2)            // block align
    streamProps.putShort(16)           // bits per sample
    val body = fileProps.array() ++ streamProps.array()
    val buf = ByteBuffer.allocate(30 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(g("3026B2758E66CF11A6D900AA0062CE6C"))
    buf.putLong(30L + body.length)
    buf.putInt(2)                      // object count
    buf.put(1.toByte).put(2.toByte)    // reserved
    buf.put(body)
    buf.array()
  }

  /** Minimal Matroska/WebM: EBML header (DocType) + Segment{Info
    * (TimecodeScale 1e6, Duration f32 = durationMs), Tracks[audio entry
    * (+ optional video entry)]}. Element sizes are 1-byte varints (all
    * bodies < 127 bytes). */
  def webm(audioChannels: Int, audioRate: Int, durationMs: Int,
           docType: String = "webm",
           video: Option[(Int, Int)] = None): Array[Byte] = {
    def el(id: Array[Int], body: Array[Byte]): Array[Byte] = {
      require(body.length < 127, "fixture element too long for 1-byte size")
      id.map(_.toByte).toArray ++ Array((0x80 | body.length).toByte) ++ body
    }
    def uint(v: Long): Array[Byte] = {
      var n = 1
      while (n < 8 && (v >> (8 * n)) != 0) n += 1
      (1 to n).map(k => ((v >> (8 * (n - k))) & 0xff).toByte).toArray
    }
    def f32(v: Float): Array[Byte] = {
      val b = new ByteSink(4)
      b.u32be(java.lang.Float.floatToIntBits(v))
      b.toByteArray
    }
    val ebmlHdr = el(Array(0x1a, 0x45, 0xdf, 0xa3),
      el(Array(0x42, 0x82), docType.getBytes("ISO-8859-1")))
    val info = el(Array(0x15, 0x49, 0xa9, 0x66),
      el(Array(0x2a, 0xd7, 0xb1), uint(1000000L)) ++
        el(Array(0x44, 0x89), f32(durationMs.toFloat)))
    val audioTrack = el(Array(0xae),
      el(Array(0x83), uint(2)) ++
        el(Array(0xe1),
          el(Array(0xb5), f32(audioRate.toFloat)) ++
            el(Array(0x9f), uint(audioChannels.toLong))))
    val videoTrack = video.map { case (w, h) =>
      el(Array(0xae),
        el(Array(0x83), uint(1)) ++
          el(Array(0xe0),
            el(Array(0xb0), uint(w.toLong)) ++ el(Array(0xba), uint(h.toLong))))
    }.getOrElse(Array.emptyByteArray)
    val tracks = el(Array(0x16, 0x54, 0xae, 0x6b), audioTrack ++ videoTrack)
    val segBody = info ++ tracks
    // Segment with an UNKNOWN size (all value bits set) — the common
    // streaming-muxer shape, exercising the parser's to-end arm
    val segment = Array(0x18, 0x53, 0x80, 0x67).map(_.toByte) ++
      Array(0xff.toByte) ++ segBody
    ebmlHdr ++ segment
  }

  /** Ogg Opus: BOS page with OpusHead (channels, pre-skip), a comment
    * page, and an EOS data page carrying the final granule position
    * (48 kHz clock). Page CRCs are 0 (unverified, like [[oggVorbis]]). */
  def oggOpus(channels: Int, preSkip: Int, granule: Long): Array[Byte] = {
    def page(seq: Int, headerType: Int, gran: Long,
             packet: Array[Byte]): Array[Byte] = {
      val lacings = Seq.fill(packet.length / 255)(255) :+ (packet.length % 255)
      val buf = ByteBuffer.allocate(27 + lacings.length + packet.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.put("OggS".getBytes).put(0.toByte).put(headerType.toByte)
      buf.putLong(gran)
      buf.putInt(0x08080808)           // serial
      buf.putInt(seq)
      buf.putInt(0)                    // crc (unverified)
      buf.put(lacings.length.toByte)
      lacings.foreach(l => buf.put(l.toByte))
      buf.put(packet)
      buf.array()
    }
    val head = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
    head.put("OpusHead".getBytes).put(1.toByte).put(channels.toByte)
    head.putShort(preSkip.toShort)
    head.putInt(48000)                 // input sample rate (informational)
    head.putShort(0)                   // output gain
    head.put(0.toByte)                 // channel mapping family
    val tags = "OpusTags".getBytes ++ Array[Byte](5, 0, 0, 0) ++
      "graft".getBytes ++ Array[Byte](0, 0, 0, 0)
    page(0, 2, 0, head.array()) ++ page(1, 0, -1, tags) ++
      page(2, 4, granule, Array[Byte](0x0c, 0x00, 0x00)) // one SILK-ish packet
  }

  /** MJPEG-in-AVI: RIFF `AVI ` with a `hdrl` LIST (avih + one `vids`/`MJPG`
    * stream: strh + BITMAPINFOHEADER strf) and a `movi` LIST whose `00dc`
    * chunks each carry one complete band-constant JFIF frame from
    * [[JpegWriter.generate]] with per-frame seed `seed + f` — so the
    * whole-clip pixel sum has the same closed form as the still-JPEG
    * oracle, summed over frames. All RIFF fields little-endian; chunks
    * 2-byte aligned. */
  def aviMjpeg(width: Int, height: Int, frames: Int, seed: Int,
               usecPerFrame: Int): Array[Byte] = {
    val fcc = java.nio.charset.StandardCharsets.US_ASCII
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length & 1
      val buf = ByteBuffer.allocate(8 + body.length + pad).order(ByteOrder.LITTLE_ENDIAN)
      buf.put(id.getBytes(fcc)).putInt(body.length).put(body)
      buf.array() // trailing pad byte (if any) stays 0
    }
    def list(subtype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", subtype.getBytes(fcc) ++ body)
    val avih = {
      val buf = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(usecPerFrame).putInt(0).putInt(0).putInt(0)
      buf.putInt(frames).putInt(0).putInt(1).putInt(0) // totalFrames, streams=1
      buf.putInt(width).putInt(height)
      buf.array() // 4 reserved dwords stay 0
    }
    val strh = {
      val buf = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("vids".getBytes(fcc)).put("MJPG".getBytes(fcc))
      buf.putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initial
      buf.putInt(usecPerFrame).putInt(1000000)        // scale / rate = fps
      buf.putInt(0).putInt(frames).putInt(0).putInt(-1).putInt(0)
      buf.putShort(0).putShort(0)                     // rcFrame left, top
        .putShort(width.toShort).putShort(height.toShort)
      buf.array()
    }
    val strf = {
      val buf = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      buf.put("MJPG".getBytes(fcc)).putInt(width * height * 3)
      buf.array()
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", (0 until frames).toArray.flatMap(f =>
      chunk("00dc", JpegWriter.generate(width, height, seed + f))))
    val body = "AVI ".getBytes(fcc) ++ hdrl ++ movi
    val buf = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(fcc)).putInt(body.length).put(body)
    buf.array()
  }

  /** Deterministic tonal int16 PCM (interleaved) for the lossy vorbis
    * encode oracles: three fixed sine partials, channel c's partials at
    * (c+1)x frequency so stereo lanes differ. StrictMath.sin is
    * bit-exact on every JVM by definition, so the encoded stream — and
    * therefore its decoded digest — is a stable pin. */
  def tonePcm(frames: Int, channels: Int, rate: Int): Array[Int] = {
    val freqs = Array(440.0, 1320.5, 3777.0)
    val amps = Array(0.32, 0.2, 0.12)
    val out = new Array[Int](frames * channels)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        var v = 0.0
        var j = 0
        while (j < freqs.length) {
          v += amps(j) * StrictMath.sin(
            2 * math.Pi * freqs(j) * (c + 1) * i / rate + 0.3 * j)
          j += 1
        }
        out(i * channels + c) =
          math.max(-32768, math.min(32767, math.round(v * 32767).toInt))
        c += 1
      }
      i += 1
    }
    out
  }
}
