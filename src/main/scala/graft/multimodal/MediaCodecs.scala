package graft.multimodal

/** Real pure-JVM media codecs (no external media libraries needed): BMP and
  * binary PPM image headers+pixels, PNG (DEFLATE + full scanline
  * unfiltering), GIF87a/89a (LZW), uncompressed baseline TIFF (both byte
  * orders), baseline JPEG ([[JpegCodec]]), and WAV/RIFF PCM headers +
  * 16-bit samples. These give the multimodal tier genuinely decoded
  * inputs — the reference decodes pixels via Pillow
  * (/root/reference/src/converters/image_converters.py:75-145) and samples
  * via pydub (/root/reference/src/converters/audio_converters.py:67-125);
  * WebP/ICO get real header-level dimensions ([[parseWebp]]/[[parseIco]]);
  * a payload no parser here claims (other video containers, opaque
  * binaries) yields a row marked [[Multimodal.StubDecodeError]].
  *
  * `pixelSum` is the sum of all decoded pixel channel bytes — it requires a
  * correct stride/padding walk (BMP rows pad to 4 bytes; a wrong stride
  * pulls zero padding bytes into the sum), so it doubles as decode proof.
  */
object MediaCodecs {

  import graft.util.{BitReader, ByteCursor, LsbReader, MsbReader}

  /** `frames` > 1 for animated GIF and animated WebP. `pixelSum` covers
    * the FIRST frame (the Pillow convert-current-frame contract) for
    * every format except animated WebP, whose frames are all DECODED (GIF
    * only counts its later frames) — there it is the composited timeline
    * digest, see [[WebpCodec.decodeAnimation]]. A sink always receives
    * first-frame pixels regardless. */
  final case class ImageMeta(format: String, width: Int, height: Int,
                             mode: String, pixelSum: Long, frames: Int = 1)

  /** Optional pixel sink for the image decoders (the convert surface's
    * input): when passed, the decoder fills `data` with the first frame's
    * raster in its NATIVE mode — interleaved `channelsOf(mode)` bytes per
    * pixel, row-major top-down; palette modes ("P") store indices in `data`
    * and the 256×3 RGB `palette`. Decoders that sum without materializing
    * (RLE8 deltas, GIF interlace) de-permute/zero-fill into the sink so the
    * raster is positionally correct, not just sum-correct. Metadata-only
    * callers pass null and pay nothing. */
  final class PixelBuf {
    var mode: String = _
    var width = 0
    var height = 0
    var data: Array[Byte] = _
    var palette: Array[Byte] = _ // P mode only: 256*3 RGB

    /** Allocate a zero-filled raster (also the API for building an image
      * to encode from scratch). Geometry is attacker-controlled on the
      * decode paths, so the allocation carries the same 64 MiB
      * decompression-bomb cap as the PNG/GIF decoders, in Long arithmetic
      * (an Int product would wrap and allocate a too-short array). */
    def init(mode: String, w: Int, h: Int): Unit = {
      PixelBuf.checkCap(mode, w, h)
      this.mode = mode; this.width = w; this.height = h
      this.data = new Array[Byte](w * h * PixelBuf.channelsOf(mode))
    }
  }

  object PixelBuf {
    /** The shared decompression-bomb predicate — kept as ONE definition so
      * pre-probes (WebpCodec.rasterWithinCap) can never diverge from the
      * enforcing gate below. */
    def fitsCap(mode: String, w: Int, h: Int): Boolean =
      w > 0 && h > 0 && w.toLong * h * channelsOf(mode) <= (1L << 26)

    /** The shared decompression-bomb gate, also used by decoders that hold
      * intermediate planes without a sink (VP8L's Int plane). */
    def checkCap(mode: String, w: Int, h: Int): Unit =
      require(fitsCap(mode, w, h),
        s"raster ${w}x$h $mode exceeds 64 MiB pixel cap")

    def channelsOf(mode: String): Int = mode match {
      case "L" | "P" => 1
      case "LA" => 2
      case "RGB" => 3
      case "RGBA" => 4
      case o => throw new IllegalArgumentException(s"unknown image mode $o")
    }
  }
  final case class WavMeta(channels: Int, frameRate: Int, bitsPerSample: Int,
                           dataBytes: Long, durationMs: Long, dataOffset: Long)

  def isBmp(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 'B' && b(1) == 'M'

  def isPpm(b: Array[Byte]): Boolean =
    b.length >= 3 && b(0) == 'P' && (b(1) == '5' || b(1) == '6') &&
      Character.isWhitespace(b(2))

  def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && (b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a &&
      (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a

  /** Uncompressed (BI_RGB) 8/24/32-bpp BMP, or BI_RLE8 (compression 1,
    * 8-bpp only: encoded runs, absolute mode with word padding, EOL/EOB/
    * delta escapes — skipped pixels count as index 0); 8-bpp is palette
    * mode "P", 24 "RGB", 32 "RGBA" (the Pillow mode names the reference
    * reports). Negative stored height = top-down row order (handled;
    * pixelSum is row-order invariant but the walk honors |height|). */
  def decodeBmp(bytes: Array[Byte], sink: PixelBuf = null): ImageMeta = {
    require(isBmp(bytes) && bytes.length >= 54, "not a BMP payload")
    val in = ByteCursor(bytes)
    // field offsets below assume the BITMAPINFOHEADER family (40/52/56/
    // 108/124 bytes share the first 40); the 12-byte BITMAPCOREHEADER lays
    // out width/height/bpp differently and would be read as garbage
    val biSize = in.i32le(14)
    require(biSize == 40 || biSize == 52 || biSize == 56 || biSize == 108 || biSize == 124,
      s"unsupported BMP DIB header size $biSize")
    val dataOffset = in.i32le(10)
    val width = in.i32le(18)
    val storedHeight = in.i32le(22)
    val height = math.abs(storedHeight)
    val bpp = in.u16le(28)
    val compression = in.i32le(30)
    require(compression == 0 || (compression == 1 && bpp == 8) ||
      (compression == 3 && bpp == 32),
      s"unsupported BMP compression $compression at $bpp bpp " +
        "(BI_RGB, 8-bpp BI_RLE8, or 32-bpp BI_BITFIELDS)")
    // geometry cap first (attacker-controlled header): matches the other
    // decoders' 64 MiB class and keeps every later Int product in range
    require(width > 0 && height > 0 && width.toLong * height <= (1L << 26),
      s"bad BMP geometry ${width}x$height")
    // the offset field is attacker-controlled: a negative or huge value
    // must fail named here, not surface as a raw-index AIOOBE in the walk
    require(dataOffset >= 54 && dataOffset <= bytes.length,
      s"BMP pixel data offset $dataOffset out of bounds")
    val mode = bpp match {
      case 8 => "P"
      case 24 => "RGB"
      case 32 if compression == 0 =>
        // Pillow parity: BI_RGB 32-bpp is raw BGRX — the 4th byte is
        // padding, the image is mode RGB (alpha needs BI_BITFIELDS masks)
        "RGB"
      case 32 =>
        // BI_BITFIELDS: only the standard BGRA layout is claimed; the
        // alpha mask (V3+ headers carry it in-header) decides RGBA vs RGB
        require(bytes.length >= 66, "BMP bitfields masks truncated")
        val (rM, gM, bM) = (in.i32le(54), in.i32le(58), in.i32le(62))
        require(rM == 0x00ff0000 && gM == 0x0000ff00 && bM == 0x000000ff,
          f"unsupported BMP channel masks $rM%08x/$gM%08x/$bM%08x")
        val aM = if (biSize >= 56 && bytes.length >= 70) in.i32le(66) else 0
        require(aM == 0 || aM == 0xff000000,
          f"unsupported BMP alpha mask $aM%08x")
        if (aM != 0) "RGBA" else "RGB"
      case o => throw new IllegalArgumentException(s"unsupported BMP bpp $o")
    }
    if (sink != null && bpp == 8) sink.palette = bmpPalette(bytes, dataOffset)
    if (compression == 1) return decodeBmpRle8(bytes, dataOffset, width, height, sink)
    // Long stride: width*(bpp/8) can overflow Int for hostile headers,
    // which would make the truncation require pass vacuously and fabricate
    // a successful ImageMeta over garbage geometry
    val rowBytesL = width.toLong * (bpp / 8)
    val strideL = (rowBytesL + 3) & ~3L
    require(dataOffset.toLong + strideL * height <= bytes.length,
      "BMP pixel data truncated")
    val stride = strideL.toInt
    if (sink != null) sink.init(mode, width, height)
    val fileCh = bpp / 8
    val outCh = PixelBuf.channelsOf(mode) // 3 for 32-bpp BGRX: X is dropped
    var sum = 0L
    var y = 0
    while (y < height) {
      val row = dataOffset + y * stride
      // stored rows are bottom-up unless the header height is negative
      val rasterY = if (storedHeight > 0) height - 1 - y else y
      var px = 0
      while (px < width) {
        val base = row + px * fileCh
        var c = 0
        while (c < fileCh) {
          if (c < outCh) {
            sum += bytes(base + c) & 0xff
            if (sink != null) {
              // BGR(A) in the file -> RGB(A) in the sink (identity for 8 bpp)
              val o = if (fileCh == 1 || c == 3) c else 2 - c
              sink.data((rasterY * width + px) * outCh + o) = bytes(base + c)
            }
          } // else: the BGRX padding byte, not image data
          c += 1
        }
        px += 1
      }
      y += 1
    }
    ImageMeta("bmp", width, height, mode, sum)
  }

  /** 8-bpp BMP color table: BGRA entries between the DIB header and the
    * pixel data, returned as 256×3 RGB (entries past biClrUsed stay 0 —
    * indices pointing there are spec-undefined, and zero is deterministic).
    * The table sits at 14 + biSize, NOT a fixed 54: BITMAPV4HEADER (108)
    * and BITMAPV5HEADER (124) files are common, and reading their header
    * extensions as colors would be silently wrong pixels. biClrUsed
    * (offset 46) 0 means the full 256. */
  private def bmpPalette(bytes: Array[Byte], dataOffset: Int): Array[Byte] = {
    val in = ByteCursor(bytes)
    val biSize = in.i32le(14) // whitelisted by decodeBmp
    val palAt = 14 + biSize
    val clrUsed = in.i32le(46)
    require(clrUsed >= 0 && clrUsed <= 256, s"bad BMP biClrUsed $clrUsed")
    val entries = if (clrUsed == 0) 256 else clrUsed
    require(palAt + entries * 4 <= dataOffset && palAt + entries * 4 <= bytes.length,
      "8-bpp BMP color table missing or truncated")
    val pal = new Array[Byte](256 * 3)
    var k = 0
    while (k < entries) {
      pal(k * 3) = bytes(palAt + k * 4 + 2)     // R
      pal(k * 3 + 1) = bytes(palAt + k * 4 + 1) // G
      pal(k * 3 + 2) = bytes(palAt + k * 4)     // B
      k += 1
    }
    pal
  }

  /** BI_RLE8 pixel stream (MS BMP spec): [n>0, v] paints n copies of index
    * v; [0, 0] end of line, [0, 1] end of bitmap, [0, 2, dx, dy] delta
    * (skipped pixels are index 0 — they contribute nothing to the sum),
    * [0, k>=3] absolute run of k literal indices padded to a 16-bit
    * boundary. Runs may not cross a row; row order is irrelevant to the
    * sum, so only per-row x and total row count are tracked. */
  private def decodeBmpRle8(bytes: Array[Byte], dataOffset: Int,
                            width: Int, height: Int,
                            sink: PixelBuf = null): ImageMeta = {
    if (sink != null) sink.init("P", width, height) // zero-filled = index 0
    // RLE rasters are always bottom-up: stored row r is raster height-1-r
    def put(row: Int, col: Int, v: Byte): Unit =
      if (sink != null) sink.data((height - 1 - row) * width + col) = v
    var i = dataOffset
    var x = 0
    var rows = 0
    var sum = 0L
    var done = false
    while (!done) {
      require(i + 2 <= bytes.length, "BMP RLE8 stream truncated")
      val n = bytes(i) & 0xff
      val v = bytes(i + 1) & 0xff
      i += 2
      if (n > 0) { // encoded run
        require(x + n <= width, s"BMP RLE8 run crosses row boundary at x=$x")
        require(rows < height, "BMP RLE8 paints past the last row")
        sum += n.toLong * v
        var j = 0
        while (j < n) { put(rows, x + j, v.toByte); j += 1 }
        x += n
      } else v match {
        case 0 => // end of line
          x = 0
          rows += 1
          require(rows <= height, "BMP RLE8 has more rows than the header")
        case 1 => done = true // end of bitmap
        case 2 => // delta: skip (dx, dy) pixels/rows, left as index 0
          require(i + 2 <= bytes.length, "BMP RLE8 delta truncated")
          val dx = bytes(i) & 0xff
          val dy = bytes(i + 1) & 0xff
          i += 2
          x += dx
          rows += dy
          require(x <= width && rows <= height, "BMP RLE8 delta out of bounds")
        case k => // absolute mode: k literal indices, word-aligned
          require(i + k + (k & 1) <= bytes.length, "BMP RLE8 absolute run truncated")
          require(x + k <= width, s"BMP RLE8 absolute run crosses row at x=$x")
          require(rows < height, "BMP RLE8 paints past the last row")
          var j = 0
          while (j < k) { sum += bytes(i + j) & 0xff; put(rows, x + j, bytes(i + j)); j += 1 }
          i += k + (k & 1)
          x += k
      }
    }
    ImageMeta("bmp", width, height, "P", sum)
  }

  /** Binary PPM (P6), maxval <= 255: always 3-channel RGB, no row padding. */
  def decodePpm(bytes: Array[Byte], sink: PixelBuf = null): ImageMeta = {
    require(isPpm(bytes), "not a P5/P6 PNM payload")
    val channels = if (bytes(1) == '5') 1 else 3 // P5 gray (PGM) / P6 RGB
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        if (Character.isWhitespace(bytes(i))) i += 1
        else if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0
      require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9', "bad PPM header")
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      v
    }
    val width = readInt()
    val height = readInt()
    val maxval = readInt()
    require(width > 0 && height > 0, s"bad PNM geometry ${width}x$height")
    require(maxval > 0 && maxval <= 255, s"unsupported PNM maxval $maxval")
    i += 1 // single whitespace byte after maxval, then raster
    val n = width.toLong * height * channels
    require(i + n <= bytes.length, "PNM raster truncated")
    val mode = if (channels == 1) "L" else "RGB"
    if (sink != null) {
      sink.init(mode, width, height)
      System.arraycopy(bytes, i, sink.data, 0, n.toInt)
    }
    var sum = 0L
    var k = i
    val end = i + n.toInt
    while (k < end) { sum += bytes(k) & 0xff; k += 1 }
    ImageMeta("ppm", width, height, mode, sum)
  }

  /** Adam7 pass grid: (xStart, yStart, xStep, yStep), PNG spec §8.2. */
  val Adam7Passes: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** PNG, the first COMPRESSED codec with a real decoder: chunk walk with
    * CRC-32 verification, IDAT chunks inflated in order as one zlib stream
    * ([[graft.util.Inflate.fill]]), then per-scanline unfiltering (all five
    * filter types: None/Sub/Up/Average/Paeth). Supported: 8-bit depth, interlace 0 or
    * Adam7 (each of the 7 passes is an independently-filtered sub-image;
    * the passes partition the pixels, so summing reconstructed pass bytes
    * IS the image pixelSum), color types 0 (gray → "L"), 2 ("RGB"),
    * 3 (palette → "P", pixelSum over indices like 8-bpp BMP),
    * 4 (gray+alpha → "LA"), 6 ("RGBA").
    * pixelSum is over the UNFILTERED bytes, so a wrong filter
    * reconstruction (the part uncompressed formats never exercise) is
    * caught arithmetically. */
  def decodePng(bytes: Array[Byte], sink: PixelBuf = null): ImageMeta = {
    require(isPng(bytes), "not a PNG payload")
    val in = ByteCursor(bytes)
    val crc = new java.util.zip.CRC32
    var i = 8
    var width = 0
    var height = 0
    var colorType = -1
    var interlace = 0
    val idat = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (offset, length)
    var sawEnd = false
    while (!sawEnd && i + 8 <= bytes.length) {
      val len = in.i32be(i)
      require(len >= 0 && i + 12L + len <= bytes.length, "PNG chunk overruns payload")
      val tpe = new String(bytes, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      crc.reset()
      crc.update(bytes, i + 4, 4 + len)
      val want = in.u32be(i + 8 + len)
      require(crc.getValue == want, s"PNG $tpe chunk CRC mismatch")
      tpe match {
        case "IHDR" =>
          require(len == 13, "bad IHDR length")
          width = in.i32be(i + 8)
          height = in.i32be(i + 12)
          val bitDepth = bytes(i + 16) & 0xff
          colorType = bytes(i + 17) & 0xff
          interlace = bytes(i + 20) & 0xff
          require(bitDepth == 8, s"unsupported PNG bit depth $bitDepth")
          require(interlace == 0 || interlace == 1, s"bad PNG interlace method $interlace")
          require(width > 0 && height > 0, s"bad PNG geometry ${width}x$height")
        case "IDAT" => idat += ((i + 8, len))
        case "IEND" => sawEnd = true
        case "PLTE" if sink != null =>
          require(len % 3 == 0 && len <= 768, s"bad PLTE length $len")
          sink.palette = new Array[Byte](256 * 3)
          System.arraycopy(bytes, i + 8, sink.palette, 0, len)
        case _ => () // ancillary (and PLTE when only summing indices)
      }
      i += 12 + len
    }
    require(sawEnd, "PNG has no IEND chunk")
    val channels = colorType match {
      case 0 => 1
      case 2 => 3
      case 3 => 1
      case 4 => 2
      case 6 => 4
      case o => throw new IllegalArgumentException(s"unsupported PNG color type $o")
    }
    val mode = colorType match {
      case 0 => "L"; case 2 => "RGB"; case 3 => "P"; case 4 => "LA"
      case 6 => "RGBA"
    }
    if (sink != null && colorType == 3)
      require(sink.palette != null, "PNG color type 3 has no PLTE chunk")
    // decompression-bomb guard: IHDR geometry is attacker-controlled and a
    // tiny compressed payload can declare huge dimensions — cap the DECODED
    // size (64 MiB) before allocating, with overflow-safe Long arithmetic
    require(height <= (1L << 26) / (1L + width.toLong * channels),
      s"PNG decode size ${width}x$height x$channels exceeds 64 MiB cap")
    // pass geometry: the whole image for interlace 0; the 7 non-empty
    // Adam7 sub-images otherwise (empty passes contribute no bytes at all).
    // Each entry carries (passW, passH, x0, y0, dx, dy) so a pixel sink can
    // place pass pixels at their raster positions.
    val passes: Seq[(Int, Int, Int, Int, Int, Int)] =
      if (interlace == 0) Seq((width, height, 0, 0, 1, 1))
      else Adam7Passes.map { case (x0, y0, dx, dy) =>
        (if (width > x0) (width - x0 + dx - 1) / dx else 0,
         if (height > y0) (height - y0 + dy - 1) / dy else 0,
         x0, y0, dx, dy)
      }.filter(p => p._1 > 0 && p._2 > 0)
    val rawLen = passes.map { case (pw, ph, _, _, _, _) => (1L + pw.toLong * channels) * ph }.sum
    require(rawLen <= (1L << 27), s"PNG filtered stream $rawLen exceeds cap")
    // inflate the filtered scanlines: per pass, rows of [filterByte][bytes]
    val raw = new Array[Byte](rawLen.toInt)
    graft.util.Inflate.fill(bytes, idat.iterator, raw, "PNG pixel data")
    // unfilter each pass independently, summing reconstructed bytes
    if (sink != null) sink.init(mode, width, height)
    var sum = 0L
    var off = 0
    for ((pw, ph, px0, py0, pdx, pdy) <- passes) {
      val rowBytes = pw * channels
      val prev = new Array[Int](rowBytes) // previous reconstructed row
      val cur = new Array[Int](rowBytes)
      var y = 0
      while (y < ph) {
        val base = off + y * (1 + rowBytes)
        val filter = raw(base) & 0xff
        var x = 0
        while (x < rowBytes) {
          val f = raw(base + 1 + x) & 0xff
          val a = if (x >= channels) cur(x - channels) else 0 // left
          val b = prev(x) // up
          val c = if (x >= channels) prev(x - channels) else 0 // up-left
          val recon = filter match {
            case 0 => f
            case 1 => (f + a) & 0xff
            case 2 => (f + b) & 0xff
            case 3 => (f + ((a + b) >> 1)) & 0xff
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              (f + pred) & 0xff
            case o => throw new IllegalArgumentException(s"bad PNG filter type $o")
          }
          cur(x) = recon
          sum += recon
          if (sink != null) {
            val rasterX = px0 + (x / channels) * pdx
            val rasterY = py0 + y * pdy
            sink.data(((rasterY * width) + rasterX) * channels + x % channels) =
              recon.toByte
          }
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, rowBytes)
        y += 1
      }
      off += ph * (1 + rowBytes)
    }
    ImageMeta("png", width, height, mode, sum)
  }

  /** Skip GIF `[len][data]...0` sub-blocks starting at the first length
    * byte; returns the index after the terminator, or -1 on truncation. */
  private def skipSubBlocks(bytes: Array[Byte], at: Int): Int = {
    var i = at
    while (i < bytes.length && (bytes(i) & 0xff) != 0) i += 1 + (bytes(i) & 0xff)
    if (i < bytes.length) i + 1 else -1
  }

  def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  private val gifCodesEnd = BitReader.requireFailed("LZW stream exhausted mid-code")

  /** GIF87a/89a, the second compressed codec with a real decoder — and a
    * completely different decompressor than PNG's DEFLATE: variable-width
    * LSB-first LZW (9→12 bits, clear-code reset, KwKwK self-reference).
    * The decoder's dictionary lags the encoder's by one entry, so the code
    * width grows at `nextCode == (1 << width) - 1` — the classic off-by-one
    * that a roundtrip across the 512/1024/2048 boundaries catches
    * arithmetically via pixelSum. First image frame only; palette indices
    * sum directly (mode "P", like 8-bpp BMP / PNG color type 3); 89a
    * extension blocks (0x21) are skipped. Interlaced frames decode the
    * same LZW stream — the 4-pass row permutation reorders rows without
    * changing the index multiset, so the "P"-mode pixelSum is exact
    * without materializing the de-permuted raster. */
  def decodeGif(bytes: Array[Byte], sink: PixelBuf = null): ImageMeta = {
    require(isGif(bytes), "not a GIF payload")
    val in = ByteCursor(bytes)
    require(bytes.length >= 13, "GIF truncated before logical screen descriptor")
    // Pillow/giflib semantics: the IMAGE is the logical screen; the first
    // frame composites at its (left, top) onto a background-color canvas
    val screenW = in.u16le(6)
    val screenH = in.u16le(8)
    val packed = bytes(10) & 0xff
    val bgIndex = if ((packed & 0x80) != 0) bytes(11) & 0xff else 0
    var i = 13
    var paletteAt = -1 // active color table: local wins over global
    var paletteLen = 0
    if ((packed & 0x80) != 0) {
      paletteAt = i; paletteLen = 3 * (1 << ((packed & 7) + 1))
      i += paletteLen // global color table
    }
    // walk blocks to the first image descriptor
    var width = 0
    var height = 0
    var frameLeft = 0
    var frameTop = 0
    var minCodeSize = 0
    var interlaced = false
    var found = false
    while (!found) {
      require(i < bytes.length, "GIF ends before any image descriptor")
      (bytes(i) & 0xff) match {
        case 0x2c => // image descriptor
          require(i + 10 <= bytes.length, "GIF image descriptor truncated")
          frameLeft = in.u16le(i + 1); frameTop = in.u16le(i + 3)
          width = in.u16le(i + 5); height = in.u16le(i + 7)
          val ipacked = bytes(i + 9) & 0xff
          interlaced = (ipacked & 0x40) != 0 // sum-invariant; sinks de-permute
          i += 10
          if ((ipacked & 0x80) != 0) { // local table
            paletteAt = i; paletteLen = 3 * (1 << ((ipacked & 7) + 1))
            i += paletteLen
          }
          require(i < bytes.length, "GIF truncated before LZW data")
          minCodeSize = bytes(i) & 0xff
          require(minCodeSize >= 2 && minCodeSize <= 8, s"bad LZW min code size $minCodeSize")
          i += 1
          found = true
        case 0x21 => // 89a extension: label byte then sub-blocks
          val next = skipSubBlocks(bytes, i + 2)
          require(next >= 0, "GIF extension truncated")
          i = next
        case 0x3b => throw new IllegalArgumentException("GIF trailer before any image")
        case o => throw new IllegalArgumentException(f"unknown GIF block 0x$o%02x")
      }
    }
    require(width > 0 && height > 0, s"bad GIF geometry ${width}x$height")
    require(screenW > 0 && screenH > 0 &&
      frameLeft + width <= screenW && frameTop + height <= screenH,
      s"GIF frame ${width}x$height@$frameLeft,$frameTop outside " +
        s"the ${screenW}x$screenH logical screen")
    require(screenW.toLong * screenH <= (1L << 26), // decompression-bomb guard
      s"GIF decode size ${screenW}x$screenH exceeds 64 MiB cap")
    // concatenate data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while ({ require(i < bytes.length, "GIF data sub-blocks truncated"); (bytes(i) & 0xff) != 0 }) {
      val n = bytes(i) & 0xff
      require(i + 1 + n <= bytes.length, "GIF sub-block overruns payload")
      data.write(bytes, i + 1, n)
      i += 1 + n
    }
    val lzw = data.toByteArray

    // ---- LZW decode
    val Clear = 1 << minCodeSize
    val Eoi = Clear + 1
    val total = width * height
    val pixels = new Array[Byte](total)
    var out = 0
    var sum = 0L
    // dictionary as (prefix link, last byte); codes < Clear are literals
    val prefixOf = new Array[Int](4096)
    val lastOf = new Array[Byte](4096)
    var nextCode = Eoi + 1
    var codeWidth = minCodeSize + 1
    val codes = new LsbReader(lzw, 0, lzw.length, gifCodesEnd)
    // expand `code` into pixels (reversed chain), return its FIRST byte
    val stack = new Array[Byte](4096)
    def emit(code: Int): Byte = {
      var c = code
      var depth = 0
      while (c >= Clear + 2) { stack(depth) = lastOf(c); depth += 1; c = prefixOf(c) }
      require(c < Clear, s"LZW code chain ends in control code $c")
      val first = c.toByte
      require(out + depth + 1 <= total, "LZW output exceeds declared pixel count")
      pixels(out) = first; sum += c; out += 1
      while (depth > 0) { depth -= 1; pixels(out) = stack(depth); sum += stack(depth) & 0xff; out += 1 }
      first
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = codes.read(codeWidth)
      if (code == Eoi) done = true
      else if (code == Clear) { nextCode = Eoi + 1; codeWidth = minCodeSize + 1; prev = -1 }
      else if (prev < 0) { // first code after clear: must be a literal
        require(code < Clear, s"first LZW code $code is not a literal")
        emit(code)
        prev = code
      } else {
        require(code <= nextCode, s"LZW code $code ahead of dictionary")
        val first =
          if (code == nextCode) { // KwKwK: entry = seq(prev) + firstByte(prev)
            val f = emit(prev)
            require(out < total, "LZW output exceeds declared pixel count")
            pixels(out) = f; sum += f & 0xff; out += 1
            f
          } else emit(code)
        if (nextCode < 4096) {
          prefixOf(nextCode) = prev
          lastOf(nextCode) = first
          nextCode += 1
          // canonical giflib/Pillow convention: grow when the next free
          // slot reaches 1 << width (empirically pinned: real giflib
          // streams desync under the former (1<<width)-1 "decoder lag"
          // convention — the lag is already absorbed by the encoder
          // growing one later, at (1<<width)+1)
          if (nextCode == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      }
    }
    require(out == total, s"GIF pixel data short: $out of $total")
    // canvas area outside the frame is the background color (index sum
    // convention, like every other P-mode path here)
    sum += bgIndex.toLong * (screenW.toLong * screenH - total)

    if (sink != null) {
      sink.init("P", screenW, screenH)
      if (bgIndex != 0) java.util.Arrays.fill(sink.data, bgIndex.toByte)
      def place(streamRow: Int, y: Int): Unit =
        System.arraycopy(pixels, streamRow * width, sink.data,
          (frameTop + y) * screenW + frameLeft, width)
      if (!interlaced) {
        var y = 0
        while (y < height) { place(y, y); y += 1 }
      } else {
        // GIF 4-pass interlace: stream rows are y = 0,8,16.. then 4,12..
        // then 2,6,10.. then 1,3,5.. (within the FRAME rect)
        var streamRow = 0
        for ((y0, dy) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- y0 until height by dy) {
          place(streamRow, y)
          streamRow += 1
        }
      }
      require(paletteAt >= 0 && paletteAt + paletteLen <= bytes.length,
        "GIF has no color table for its pixels")
      sink.palette = new Array[Byte](256 * 3)
      System.arraycopy(bytes, paletteAt, sink.palette, 0, paletteLen)
    }

    // count remaining frames (animated GIF): walk descriptors to the
    // trailer. BEST-EFFORT — a stream truncated or corrupt AFTER a fully
    // decoded first frame keeps its pixels (Pillow reads frame 0 of such
    // files); a frame is counted only if fully skippable, and counting
    // simply stops at the first anomaly
    var frames = 1
    i += 1 // the first frame's sub-block terminator
    var walking = true
    while (walking && i < bytes.length) {
      (bytes(i) & 0xff) match {
        case 0x3b => walking = false // trailer
        case 0x2c if i + 10 <= bytes.length =>
          val fpacked = bytes(i + 9) & 0xff
          var j = i + 10
          if ((fpacked & 0x80) != 0) j += 3 * (1 << ((fpacked & 7) + 1)) // local table
          // j = min-code-size byte; sub-blocks follow it
          val next = if (j < bytes.length) skipSubBlocks(bytes, j + 1) else -1
          if (next < 0) walking = false
          else { frames += 1; i = next }
        case 0x21 =>
          val next = skipSubBlocks(bytes, i + 2)
          if (next < 0) walking = false else i = next
        case _ => walking = false // truncated descriptor or unknown block
      }
    }
    ImageMeta("gif", screenW, screenH, "P", sum, frames)
  }

  def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 && ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))

  private val tiffCodesEnd = BitReader.requireFailed("TIFF LZW stream exhausted mid-code")

  /** TIFF §13 LZW strip decode (MSB-first bit packing, EarlyChange):
    * 9→12-bit codes, Clear=256, EOI=257. The ONLY differences from the
    * GIF LZW in [[decodeGif]] are the bit order and the one-code-earlier
    * (EarlyChange) width growth: this decoder grows at (1<<w)-1 — libtiff's
    * `free_ent > MAXCODE(nbits)-1` — where the GIF decoder grows at 1<<w.
    * Returns (byteSum, byteCount) of the strip, bounded by `maxOut`. */
  private[graft] def tiffLzwStrip(bytes: Array[Byte], from: Int, until: Int,
                                  maxOut: Long,
                                  sinkArr: Array[Byte] = null,
                                  sinkBase: Int = 0): (Long, Long) = {
    val Clear = 256
    val Eoi = 257
    val prefixOf = new Array[Int](4096)
    val lastOf = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var nextCode = Eoi + 1
    var width = 9
    val codes = new MsbReader(bytes, from, until, tiffCodesEnd)
    var sum = 0L
    var out = 0L
    // expand `code` (reversed chain), return its FIRST byte
    def emit(code: Int): Byte = {
      var c = code
      var depth = 0
      while (c >= Clear + 2) { stack(depth) = lastOf(c); depth += 1; c = prefixOf(c) }
      require(c < Clear, s"TIFF LZW code chain ends in control code $c")
      require(out + depth + 1 <= maxOut, "TIFF LZW output exceeds geometry")
      if (sinkArr != null) sinkArr(sinkBase + out.toInt) = c.toByte
      sum += c; out += 1
      while (depth > 0) {
        depth -= 1
        if (sinkArr != null) sinkArr(sinkBase + out.toInt) = stack(depth)
        sum += stack(depth) & 0xff; out += 1
      }
      c.toByte
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = codes.read(width)
      if (code == Eoi) done = true
      else if (code == Clear) { nextCode = Eoi + 1; width = 9; prev = -1 }
      else if (prev < 0) { // first code after clear: must be a literal
        require(code < Clear, s"first TIFF LZW code $code is not a literal")
        emit(code)
        prev = code
      } else {
        require(code <= nextCode, s"TIFF LZW code $code ahead of dictionary")
        val first =
          if (code == nextCode) { // KwKwK
            val f = emit(prev)
            require(out < maxOut, "TIFF LZW output exceeds geometry")
            if (sinkArr != null) sinkArr(sinkBase + out.toInt) = f
            sum += f & 0xff; out += 1
            f
          } else emit(code)
        if (nextCode < 4096) {
          prefixOf(nextCode) = prev
          lastOf(nextCode) = first
          nextCode += 1
          // TIFF §13 EarlyChange: grow at (1<<w)-1 — libtiff's
          // `free_ent > MAXCODE(nbits)-1`, one earlier than the GIF
          // decoder's 1<<w (cross-pinned against the JDK TIFF codec in
          // ImageIoConformanceSpec; the former (1<<w)-2 was one early
          // and desynced on real libtiff/ImageIO streams)
          if (nextCode == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
      }
    }
    (sum, out)
  }

  /** Baseline TIFF 6.0: BOTH byte orders (II little / MM big — the one
    * format here whose integer decode is endian-parameterized), IFD entry
    * walk with SHORT/LONG values resolved in-field or via offset,
    * multi-strip pixel layout (StripOffsets/StripByteCounts arrays), 8-bit
    * grayscale (PhotometricInterpretation 1 → "L") or RGB (2 → "RGB").
    * Compression 1 (none), 5 (LZW, [[tiffLzwStrip]]), or 32773 (PackBits
    * RLE, TIFF 6.0 §9) — each strip decoded independently with output
    * bounded by the geometry; JPEG-in-TIFF etc. are explicit errors. */
  def decodeTiff(bytes: Array[Byte], sink: PixelBuf = null): ImageMeta = {
    require(isTiff(bytes), "not a TIFF payload")
    val le = bytes(0) == 'I'
    val in = ByteCursor(bytes)
    def u16at(i: Int): Int = if (le) in.u16le(i) else in.u16be(i)
    def u32at(i: Int): Long = if (le) in.u32le(i) else in.u32be(i)
    val ifdAt = u32at(4)
    require(ifdAt >= 8 && ifdAt + 2 <= bytes.length, s"TIFF IFD offset $ifdAt out of bounds")
    val n = u16at(ifdAt.toInt)
    // tag -> (type, count, value-field offset)
    var width = 0L
    var height = 0L
    var compression = 1L
    var photometric = -1L
    var spp = 1L
    var predictor = 1L
    var planarConfig = 1L
    var stripOffsets: IndexedSeq[Long] = IndexedSeq.empty
    var stripCounts: IndexedSeq[Long] = IndexedSeq.empty
    var e = 0
    while (e < n) {
      val at = ifdAt.toInt + 2 + e * 12
      val tag = u16at(at)
      val tpe = u16at(at + 2)
      val count = u32at(at + 4)
      val elemSize = tpe match {
        case 3 => 2 // SHORT
        case 4 => 4 // LONG
        case _ => -1
      }
      // count/type constraints apply only to tags this decoder consumes —
      // ignored tags (ICC profiles, XMP, descriptions) may carry any payload
      def values(): IndexedSeq[Long] = {
        require(count >= 1 && count <= 65536, s"TIFF tag $tag count $count unsupported")
        require(elemSize > 0, s"TIFF tag $tag type $tpe unsupported (SHORT/LONG only)")
        // values fit in the 4-byte field or live at an offset
        val base = if (elemSize * count <= 4) at + 8 else u32at(at + 8).toInt
        (0 until count.toInt).map { k =>
          if (elemSize == 2) u16at(base + 2 * k).toLong else u32at(base + 4 * k)
        }
      }
      def scalar(): Long = values().head
      tag match {
        case 256 => width = scalar()
        case 257 => height = scalar()
        case 258 => values().foreach(v => require(v == 8, s"TIFF bits-per-sample $v unsupported"))
        case 259 => compression = scalar()
        case 262 => photometric = scalar()
        case 273 => stripOffsets = values()
        case 277 => spp = scalar()
        case 279 => stripCounts = values()
        case 284 => planarConfig = scalar()
        case 317 => predictor = scalar()
        case _ => () // RowsPerStrip, resolution, ICC, etc: not needed for the sum
      }
      e += 1
    }
    require(compression == 1 || compression == 5 || compression == 32773,
      s"compressed TIFF (scheme $compression) unsupported (none, LZW, or PackBits)")
    require(photometric == 1 || photometric == 2,
      s"TIFF photometric $photometric unsupported (min-is-black or RGB only)")
    val mode = if (photometric == 2) "RGB" else "L"
    require(if (photometric == 2) spp == 3 else spp == 1,
      s"TIFF samples-per-pixel $spp inconsistent with photometric $photometric")
    require(width > 0 && height > 0 && width * height <= (1L << 26),
      s"bad TIFF geometry ${width}x$height")
    require(stripOffsets.nonEmpty && stripOffsets.length == stripCounts.length,
      "TIFF strip offsets/counts missing or mismatched")
    require(planarConfig == 1,
      s"TIFF planar configuration $planarConfig unsupported (chunky only)")
    // predictor 2 (horizontal differencing) is the DEFAULT most libtiff/
    // Pillow LZW writers emit — ignoring it would return garbage bytes as
    // a successful decode; anything else must be a named error
    require(predictor == 1 || predictor == 2,
      s"TIFF predictor $predictor unsupported (none or horizontal)")
    val expected = width * height * spp
    if (sink != null) sink.init(mode, width.toInt, height.toInt)
    // predictor 2 needs the whole raster to un-difference, even sink-free
    val raster: Array[Byte] =
      if (sink != null) sink.data
      else if (predictor == 2) new Array[Byte](expected.toInt)
      else null
    // strips partition the raster in row-major order, so the running
    // `decoded` counter IS the sink position
    def put(at: Long, b: Byte): Unit = if (raster != null) raster(at.toInt) = b
    var sum = 0L
    var decoded = 0L
    stripOffsets.indices.foreach { s =>
      val off = stripOffsets(s)
      val cnt = stripCounts(s)
      require(off >= 0 && off + cnt <= bytes.length, s"TIFF strip $s overruns payload")
      var i = off.toInt
      val end = (off + cnt).toInt
      if (compression == 1) {
        require(decoded + cnt <= expected, "TIFF strip data exceeds geometry")
        while (i < end) { sum += bytes(i) & 0xff; put(decoded + (i - off), bytes(i)); i += 1 }
        decoded += cnt
      } else if (compression == 5) { // LZW, per strip
        val (s2, n2) = tiffLzwStrip(bytes, i, end, expected - decoded,
          raster, decoded.toInt)
        sum += s2
        decoded += n2
      } else { // PackBits (TIFF 6.0 §9): each strip decoded independently
        while (i < end) {
          val n = bytes(i)
          i += 1
          if (n >= 0) { // literal run of n+1 bytes
            require(i + n + 1 <= end, s"TIFF PackBits literal overruns strip $s")
            require(decoded + n + 1 <= expected, "TIFF PackBits output exceeds geometry")
            var k = 0
            while (k <= n) { sum += bytes(i + k) & 0xff; put(decoded + k, bytes(i + k)); k += 1 }
            i += n + 1
            decoded += n + 1
          } else if (n != -128) { // replicate the next byte 1-n times
            require(i < end, s"TIFF PackBits replicate overruns strip $s")
            val reps = 1 - n
            require(decoded + reps <= expected, "TIFF PackBits output exceeds geometry")
            sum += (bytes(i) & 0xff).toLong * reps
            var k = 0
            while (k < reps) { put(decoded + k, bytes(i)); k += 1 }
            i += 1
            decoded += reps
          } // -128 is a spec'd no-op
          require(decoded <= expected, "TIFF PackBits output exceeds geometry")
        }
      }
    }
    require(decoded == expected, s"TIFF decoded bytes $decoded != geometry $expected")
    if (predictor == 2) { // un-difference each row in place, re-sum
      val rowBytes = (width * spp).toInt
      val ch = spp.toInt
      var y = 0
      while (y < height) {
        val base = y * rowBytes
        var x = ch
        while (x < rowBytes) {
          raster(base + x) = (raster(base + x) + raster(base + x - ch)).toByte
          x += 1
        }
        y += 1
      }
      sum = 0L
      var i = 0
      while (i < raster.length) { sum += raster(i) & 0xff; i += 1 }
    }
    ImageMeta("tiff", width.toInt, height.toInt, mode, sum)
  }

  /** Dispatch by magic; None for formats without a real decoder here.
    * WebP is claimed in ALL FOUR of its container shapes — simple
    * lossless (VP8L), simple lossy (VP8 key frame), extended stills
    * (VP8X+ALPH) and ANIMATIONS (VP8X+ANMF, every frame decoded and
    * composited) — and only under the raster/cumulative-pixel caps;
    * legal-but-over-cap files stay on the [[parseWebp]] header path so
    * they keep real dims instead of degrading to an error row. */
  def decodeImage(bytes: Array[Byte]): Option[ImageMeta] =
    if (isBmp(bytes)) Some(decodeBmp(bytes))
    else if (isPpm(bytes)) Some(decodePpm(bytes))
    else if (isPng(bytes)) Some(decodePng(bytes))
    else if (isGif(bytes)) Some(decodeGif(bytes))
    else if (JpegCodec.isJpeg(bytes)) Some(JpegCodec.decode(bytes))
    else if (isTiff(bytes)) Some(decodeTiff(bytes))
    else if ((WebpCodec.isLossless(bytes) || WebpCodec.isSimpleLossy(bytes) ||
      WebpCodec.isExtendedStill(bytes) || WebpCodec.isAnimation(bytes)) &&
      WebpCodec.rasterWithinCap(bytes))
      Some(WebpCodec.decode(bytes, null)) // meta+sum only: skip the sink copy
    else None

  /** FLAC container metadata: STREAMINFO audio parameters and the raw
    * VORBIS_COMMENT tag map (the inputs the K6 mutagen-normalization
    * layer, [[MediaOps.audioMetadata]], expects). `frameDataOffset` is the
    * byte offset just past the metadata blocks — where the audio frames
    * start — so [[FlacCodec.decodeSamples]] never re-walks the (already
    * bounds-validated) block chain itself. */
  final case class FlacMeta(sampleRate: Int, channels: Int, bitsPerSample: Int,
                            totalSamples: Long, durationMs: Long,
                            tags: Map[String, String], frameDataOffset: Int)

  def isFlac(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'

  /** FLAC metadata-block walk: STREAMINFO (type 0 — sample rate 20 bits,
    * channels-1 3 bits, bits-per-sample-1 5 bits, total samples 36 bits,
    * packed big-endian) and VORBIS_COMMENT (type 4 — LITTLE-endian length
    * prefixes, `KEY=value` entries, keys case-insensitive per spec and
    * lowercased here the way mutagen exposes them). Frame data (the actual
    * compressed audio) is not decoded. */
  def parseFlac(bytes: Array[Byte]): FlacMeta = {
    require(isFlac(bytes), "not a FLAC payload")
    val in = ByteCursor(bytes)
    var i = 4
    var sampleRate = 0
    var channels = 0
    var bps = 0
    var totalSamples = 0L
    var sawStreamInfo = false
    var tags = Map.empty[String, String]
    var last = false
    while (!last) {
      require(i + 4 <= bytes.length, "FLAC truncated in block header")
      val hdr = bytes(i) & 0xff
      last = (hdr & 0x80) != 0
      val tpe = hdr & 0x7f
      val len = in.u24be(i + 1)
      val body = i + 4
      require(body + len <= bytes.length, s"FLAC block $tpe overruns payload")
      tpe match {
        case 0 => // STREAMINFO: fixed 34 bytes
          require(len >= 34, "STREAMINFO too short")
          val at = body + 10 // skip block/frame size bounds
          // 64 bits: rate(20) | chan-1(3) | bps-1(5) | totalSamples(36)
          val v = in.u64be(at)
          sampleRate = (v >>> 44).toInt
          channels = ((v >>> 41) & 0x7).toInt + 1
          bps = ((v >>> 36) & 0x1f).toInt + 1
          totalSamples = v & ((1L << 36) - 1)
          sawStreamInfo = true
        case 4 => // VORBIS_COMMENT (same structure Ogg Vorbis uses);
          // accumulate across (spec-violating but parseable) repeat blocks
          tags = tags ++ readVorbisComments(bytes, body, body + len)
        case _ => () // padding, seektable, cuesheet, picture: skipped
      }
      i = body + len
    }
    require(sawStreamInfo && sampleRate > 0, "FLAC has no STREAMINFO")
    FlacMeta(sampleRate, channels, bps, totalSamples,
      totalSamples * 1000L / sampleRate, tags, i)
  }

  /** Vorbis-comment structure (shared verbatim by FLAC's VORBIS_COMMENT
    * block and Ogg Vorbis's comment header): LITTLE-endian length-prefixed
    * vendor string, entry count, then `KEY=value` entries; keys are
    * case-insensitive per spec and lowercased here the way mutagen exposes
    * them. Length fields are attacker-controlled u32s read as signed Int:
    * sign AND containment are validated before use, or a negative value
    * would walk the cursor backward past every downstream bounds check. */
  private def readVorbisComments(bytes: Array[Byte], from: Int, until: Int): Map[String, String] = {
    val in = ByteCursor(bytes)
    var p = from
    def readLen(what: String): Int = {
      require(p + 4 <= until, s"vorbis $what length overruns block")
      val v = in.i32le(p)
      require(v >= 0 && v <= until - (p + 4), s"vorbis $what length $v out of bounds")
      p += 4
      v
    }
    // NOT `p += readLen(...)`: that reads p before readLen's own advance
    // and silently discards it
    val vendorLen = readLen("vendor")
    p += vendorLen
    require(p + 4 <= until, "vorbis comment count overruns block")
    val n = in.i32le(p); p += 4
    require(n >= 0, s"negative vorbis comment count $n")
    var tags = Map.empty[String, String]
    var k = 0
    while (k < n) {
      val entryLen = readLen("entry")
      val entry = new String(bytes, p, entryLen, java.nio.charset.StandardCharsets.UTF_8)
      p += entryLen
      val eq = entry.indexOf('=')
      require(eq > 0, s"malformed vorbis comment '$entry'")
      tags += entry.substring(0, eq).toLowerCase -> entry.substring(eq + 1)
      k += 1
    }
    tags
  }

  /** Ogg Vorbis container metadata: identification-header audio parameters
    * and the raw comment-header tag map. */
  final case class OggVorbisMeta(channels: Int, sampleRate: Int,
                                 bitrateNominal: Int, tags: Map[String, String])

  def isOgg(b: Array[Byte]): Boolean =
    b.length >= 27 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S'

  /** Ogg page walk (RFC 3533) to the first two Vorbis packets: pages carry
    * a lacing table whose 255-valued entries continue a packet, so packets
    * are reassembled across lacings AND page boundaries. Packet 1 must be
    * the Vorbis identification header (0x01 "vorbis": channels u8, sample
    * rate u32le, nominal bitrate s32le), packet 2 the comment header
    * (0x03 "vorbis" + the same vorbis-comment structure FLAC embeds).
    * Page CRCs are not verified (frame data is never decoded here). */
  def parseOggVorbis(bytes: Array[Byte]): OggVorbisMeta = {
    require(isOgg(bytes), "not an Ogg payload")
    val packets = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val current = new java.io.ByteArrayOutputStream()
    var i = 0
    while (packets.length < 2 && i + 27 <= bytes.length) {
      require(bytes(i) == 'O' && bytes(i + 1) == 'g' && bytes(i + 2) == 'g' &&
        bytes(i + 3) == 'S', s"Ogg page capture pattern missing at $i")
      require(bytes(i + 4) == 0, "Ogg stream structure version unsupported")
      val nsegs = bytes(i + 26) & 0xff
      require(i + 27 + nsegs <= bytes.length, "Ogg segment table truncated")
      val dataStart = i + 27 + nsegs
      var dataLen = 0
      var k = 0
      while (k < nsegs) { dataLen += bytes(i + 27 + k) & 0xff; k += 1 }
      require(dataStart + dataLen <= bytes.length, "Ogg page data truncated")
      var p = dataStart
      var s = 0
      while (s < nsegs && packets.length < 2) {
        val lace = bytes(i + 27 + s) & 0xff
        current.write(bytes, p, lace)
        p += lace
        if (lace < 255) { // packet boundary
          packets += current.toByteArray
          current.reset()
        }
        s += 1
      }
      i = dataStart + dataLen
    }
    require(packets.length >= 2, "Ogg stream ends before the Vorbis comment header")
    def vorbisPacket(p: Array[Byte], tpe: Int, what: String): Unit =
      require(p.length >= 7 && (p(0) & 0xff) == tpe &&
        new String(p, 1, 6, java.nio.charset.StandardCharsets.ISO_8859_1) == "vorbis",
        s"packet is not a Vorbis $what header")
    val id = packets(0)
    vorbisPacket(id, 1, "identification")
    require(id.length >= 30, "Vorbis identification header too short")
    val channels = id(11) & 0xff
    val idFields = ByteCursor(id)
    val rate = idFields.i32le(12)
    val brNominal = idFields.i32le(20)
    require(channels > 0 && rate > 0, "bad Vorbis audio parameters")
    val comment = packets(1)
    vorbisPacket(comment, 3, "comment")
    OggVorbisMeta(channels, rate, brNominal,
      readVorbisComments(comment, 7, comment.length))
  }

  def isId3v2(b: Array[Byte]): Boolean =
    b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3' &&
      (b(3) == 3 || b(3) == 4) && (b(4) & 0xff) != 0xff // any revision is compatible

  /** ID3v2.3/2.4 text frames to a raw tag map (frame id -> decoded text),
    * the shape [[MediaOps.audioMetadata]]'s mp3 arm keys on (TIT2/TPE1/
    * TALB/...). v2.4 frame sizes are syncsafe, v2.3 plain big-endian —
    * the classic divergence; all four text encodings (latin-1, UTF-16/BOM,
    * UTF-16BE, utf-8). */
  def parseId3v2(bytes: Array[Byte]): Map[String, String] = {
    require(isId3v2(bytes), "not an ID3v2.3/2.4 payload")
    require(bytes(5) == 0,
      "ID3v2 header flags unsupported (unsynchronisation/extended header)")
    val v24 = bytes(3) == 4
    def syncsafe(i: Int): Int =
      ((bytes(i) & 0x7f) << 21) | ((bytes(i + 1) & 0x7f) << 14) |
        ((bytes(i + 2) & 0x7f) << 7) | (bytes(i + 3) & 0x7f)
    val in = ByteCursor(bytes)
    val tagEnd = 10 + syncsafe(6)
    require(tagEnd <= bytes.length, "ID3v2 size field overruns payload")
    var tags = Map.empty[String, String]
    var i = 10
    var done = false
    while (!done && i + 10 <= tagEnd) {
      if (bytes(i) == 0) done = true // padding reached
      else {
        val id = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val size = if (v24) syncsafe(i + 4).toLong else in.u32be(i + 4)
        require(size >= 0 && i + 10 + size <= tagEnd, s"ID3 frame $id overruns tag")
        // TXXX has its own layout (description NUL value) — not a plain
        // text frame; multi-value v2.4 frames keep their interior NUL
        // separators, matching what mutagen's str() reports
        if (id.startsWith("T") && id != "TXXX" && size >= 1) {
          require(bytes(i + 8) == 0 && bytes(i + 9) == 0,
            s"ID3 frame $id format flags unsupported (compression/encryption/DLI)")
          val enc = bytes(i + 10) & 0xff
          // 1 (UTF-16 with BOM) is what Windows taggers/iTunes write for
          // ANY non-ASCII text under v2.3 — rejecting it error-rowed a
          // large class of ordinary mp3s; 2 (UTF-16BE, v2.4) for parity
          require(enc <= 3, s"ID3 text encoding $enc unsupported")
          val cs = enc match {
            case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
            case 1 => java.nio.charset.StandardCharsets.UTF_16 // BOM-driven
            case 2 => java.nio.charset.StandardCharsets.UTF_16BE
            case _ => java.nio.charset.StandardCharsets.UTF_8
          }
          val text = new String(bytes, i + 11, size.toInt - 1, cs)
            .stripSuffix("\u0000")
          tags += id -> text
        }
        i += 10 + size.toInt
      }
    }
    tags
  }

  /** MP4/ISO-BMFF container metadata: movie duration/timescale (mvhd), the
    * first nonzero track dimensions (tkhd, 16.16 fixed point), and iTunes
    * `ilst` text tags keyed by their atom fourcc (`©nam`, `©ART`,
    * `©alb`, ... — the mutagen.mp4.MP4 key convention, which the
    * reference imports for its .m4a whitelist,
    * /root/reference/src/converters/audio_converters.py:22,41). */
  final case class Mp4Meta(durationMs: Long, timescale: Long,
                           width: Int, height: Int, tracks: Int,
                           tags: Map[String, String] = Map.empty)

  /** `ftyp` fourcc at offset 4 AND a sane leading box size — text that
    * happens to spell "ftyp" at offset 4 has a garbage size field and must
    * not be claimed (it would turn a stub-decodable row into an error). */
  def isMp4(b: Array[Byte]): Boolean = {
    if (b.length < 12 || b(4) != 'f' || b(5) != 't' || b(6) != 'y' || b(7) != 'p')
      return false
    val size = ByteCursor(b).u32be(0)
    size >= 12 && size <= b.length
  }

  /** ISO-BMFF box walk (ISO 14496-12): size+fourcc headers with 64-bit
    * largesize and to-end-of-enclosure (size 0) forms, `moov` → `mvhd`
    * (movie duration/timescale, version 0 and 1 layouts) and `trak` →
    * `tkhd` (16.16 fixed-point presentation dimensions). Container
    * METADATA only — sample decode would need the actual video codecs. */
  /** Shared ISO-BMFF box walk (parseMp4 AND parseHeif walk the same box
    * grammar): size + fourcc headers incl. 64-bit largesize and size-0
    * to-enclosure-end. */
  private def bmffWalk(in: ByteCursor, from: Int, until: Int)
                      (f: (String, Int, Int) => Unit): Unit = {
    var i = from
    while (i + 8 <= until) {
      var size = in.u32be(i)
      val tpe = in.string(i + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      var hdr = 8L
      if (size == 1) { size = in.u64be(i + 8); hdr = 16 }
      else if (size == 0) size = until - i // box extends to the enclosure end
      require(size >= hdr && i + size <= until, s"ISO-BMFF box $tpe overruns enclosure")
      f(tpe, (i + hdr).toInt, (i + size).toInt)
      i += size.toInt
    }
  }

  def parseMp4(bytes: Array[Byte]): Mp4Meta = {
    require(isMp4(bytes), "not an ISO-BMFF payload")
    val in = ByteCursor(bytes)
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Unit =
      bmffWalk(in, from, until)(f)
    var timescale = 0L
    var duration = -1L
    var w = 0
    var h = 0
    var tracks = 0
    val tags = Map.newBuilder[String, String]
    // iTunes metadata item list: moov/udta/meta/ilst, each item box named by
    // its tag fourcc and holding a `data` box (8-byte header, then a 24-bit
    // type indicator — 1 = UTF-8 text — and a 4-byte locale) before payload
    def parseIlst(from: Int, until: Int): Unit =
      walk(from, until) { (item, is, ie) =>
        walk(is, ie) {
          case ("data", ds, de) =>
            require(de - ds >= 8, s"ilst data box for $item too short")
            val typeIndicator = in.u24be(ds + 1)
            if (typeIndicator == 1) // UTF-8 text atom (trkn/disk are binary)
              tags += item -> new String(bytes, ds + 8, de - ds - 8,
                java.nio.charset.StandardCharsets.UTF_8)
          case _ => ()
        }
      }
    walk(0, bytes.length) {
      case ("moov", s, e) => walk(s, e) {
        case ("mvhd", ms, me) =>
          val ver = bytes(ms) & 0xff
          require(ver <= 1, s"mvhd version $ver unsupported")
          // field reads must stay inside the DECLARED box, not just the
          // payload — a short box must fail, not read sibling bytes
          require(me - ms >= (if (ver == 1) 32 else 20), "mvhd box too short")
          if (ver == 1) { timescale = in.u32be(ms + 20); duration = in.u64be(ms + 24) }
          else { timescale = in.u32be(ms + 12); duration = in.u32be(ms + 16) }
        case ("trak", ts, te) =>
          tracks += 1
          walk(ts, te) {
            case ("tkhd", ks, ke) =>
              val ver = bytes(ks) & 0xff
              require(ver <= 1, s"tkhd version $ver unsupported")
              // payload: version/flags, times/id/duration, reserved+layer+
              // volume block (16), matrix (36), then 16.16 width/height
              val at = ks + 4 + (if (ver == 1) 32 else 20) + 16 + 36
              require(at + 8 <= ke, "tkhd box too short")
              val tw = in.u16be(at)
              val th = in.u16be(at + 4)
              if (w == 0 && tw > 0 && th > 0) { w = tw; h = th }
            case _ => ()
          }
        case ("udta", us, ue) => walk(us, ue) {
          // `meta` is a FullBox: 4 bytes of version/flags precede children
          case ("meta", ms2, me2) => walk(ms2 + 4, me2) {
            case ("ilst", ls, le) => parseIlst(ls, le)
            case _ => () // hdlr, free, ...
          }
          case _ => ()
        }
        case _ => ()
      }
      case _ => () // ftyp, mdat, free, ...
    }
    require(timescale > 0 && duration >= 0, "MP4 has no mvhd (not a movie)")
    Mp4Meta(duration * 1000L / timescale, timescale, w, h, tracks, tags.result())
  }

  /** HEIF/AVIF still-image metadata. Both extensions are in the
    * reference's Pillow input whitelist (and it ships a pyheif reader,
    * /root/reference/src/converters/image_converters.py:45,153-164);
    * the canvas dimensions live in the `meta` box's item-property system,
    * parsed for REAL here: `pitm` names the primary item, `ipma`
    * associates it with `ipco` child properties (1-based indices), and its
    * `ispe` property carries width/height — so a thumbnail item's ispe
    * can never shadow the canvas. Pixel decode would need an HEVC/AV1
    * codec; this keeps heic/heif/avif rows out of the stub fallback with
    * honest header metadata, the same contract as WebP/ICO. */
  final case class HeifMeta(width: Int, height: Int, brand: String, items: Int)

  private val heifBrands = Set("heic", "heix", "mif1", "msf1", "avif", "avis")

  def isHeif(b: Array[Byte]): Boolean =
    isMp4(b) && heifBrands.contains(
      new String(b, 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1))

  def parseHeif(bytes: Array[Byte]): HeifMeta = {
    require(isHeif(bytes), "not a HEIF/AVIF payload")
    val brand = new String(bytes, 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    val in = ByteCursor(bytes)
    var primary = -1L
    var items = 0
    // ipco children in declaration order; 1-based property indices.
    // Associations accumulate for EVERY item and resolve against pitm only
    // after the walk — ISO 14496-12 imposes no ordering on meta's children,
    // so pitm may legally FOLLOW iprp.
    val propTypes = scala.collection.mutable.ArrayBuffer[String]()
    val ispeDims = scala.collection.mutable.HashMap[Int, (Int, Int)]()
    val assoc = scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    bmffWalk(in, 0, bytes.length) {
      case ("meta", ms, me) => bmffWalk(in, ms + 4, me) { // meta is a FullBox
        case ("pitm", ps, pe) =>
          val ver = bytes(ps) & 0xff
          require(pe - ps >= (if (ver == 0) 6 else 8), "pitm box too short")
          primary = if (ver == 0) in.u16be(ps + 4) else in.u32be(ps + 4)
        case ("iinf", is, ie) =>
          val ver = bytes(is) & 0xff
          require(ie - is >= (if (ver == 0) 6 else 8), "iinf box too short")
          items = (if (ver == 0) in.u16be(is + 4) else in.u32be(is + 4)).toInt
        case ("iprp", is, ie) => bmffWalk(in, is, ie) {
          case ("ipco", cs, ce) => bmffWalk(in, cs, ce) { (t, s2, e2) =>
            propTypes += t
            if (t == "ispe") {
              require(e2 - s2 >= 12, "ispe box too short")
              val w = in.u32be(s2 + 4)
              val h = in.u32be(s2 + 8)
              require(w > 0 && h > 0 && w <= 0x7fffffffL && h <= 0x7fffffffL,
                s"bad ispe dimensions ${w}x$h")
              ispeDims(propTypes.length) = (w.toInt, h.toInt)
            }
          }
          case ("ipma", as0, ae) =>
            require(ae - as0 >= 8, "ipma box too short")
            val ver = bytes(as0) & 0xff
            val wideIdx = (bytes(as0 + 3) & 0x01) != 0 // flags bit 0: 15-bit indices
            val entries = in.u32be(as0 + 4)
            in.seek(as0 + 8)
            var e = 0L
            while (e < entries) {
              // every read bounded by the BOX end, not the payload end: a
              // lying entry_count must fail named, never read sibling-box
              // bytes as associations (and maybe a thumbnail's property)
              val idWidth = if (ver < 1) 2 else 4
              require(in.position + idWidth + 1 <= ae, "ipma truncated (entry_count overruns box)")
              val itemId = if (ver < 1) in.u16be().toLong else in.u32be()
              val n = in.u8()
              require(in.position + n * (if (wideIdx) 2 else 1) <= ae,
                "ipma truncated (associations overrun box)")
              val props = assoc.getOrElseUpdate(itemId,
                scala.collection.mutable.ArrayBuffer[Int]())
              var a = 0
              while (a < n) {
                val idx = if (wideIdx) in.u16be() & 0x7fff else in.u8() & 0x7f
                props += idx
                a += 1
              }
              e += 1
            }
          case _ => ()
        }
        case _ => () // iloc, idat, hdlr, ...
      }
      case _ => () // ftyp, mdat, free, ...
    }
    require(ispeDims.nonEmpty, "HEIF has no ispe property (no image dimensions)")
    val primaryProps = assoc.getOrElse(primary, scala.collection.mutable.ArrayBuffer[Int]())
    val dims = primaryProps.collectFirst {
      case idx if ispeDims.contains(idx) => ispeDims(idx)
    }.getOrElse {
      require(primary < 0,
        "primary item has no ispe association (corrupt item-property table)")
      // no pitm (legal for single-item files): the sole/widest ispe
      ispeDims.values.maxBy(d => d._1.toLong * d._2)
    }
    HeifMeta(dims._1, dims._2, brand, math.max(items, 1))
  }

  /** Canonical RIFF/WAVE PCM: walks chunks for `fmt ` and `data`;
    * duration_ms = floor(dataBytes * 1000 / byteRate) — the pydub
    * len(audio) contract (audio_converters.py:114). */
  def parseWav(bytes: Array[Byte]): WavMeta = {
    require(isWav(bytes), "not a RIFF/WAVE payload")
    // Long cursor: a size field near Int.MaxValue must not wrap the
    // containment check or the cursor advance into accepted-but-wrong state
    var i = 12L
    var channels = 0
    var rate = 0
    var bits = 0
    var byteRate = 0
    var dataBytes = -1L
    var dataOffset = -1L
    val in = ByteCursor(bytes)
    while (i + 8 <= bytes.length && (channels == 0 || dataBytes < 0)) {
      val at = i.toInt
      val id = new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = in.i32le(at + 4)
      // a crafted/corrupt negative size would advance the cursor by <= 0 and
      // hang the executor task — fail contained instead (non-termination is
      // the one thing the per-row try/catch cannot contain)
      require(size >= 0, s"negative RIFF chunk size $size")
      if (id == "fmt " && i + 24 <= bytes.length) {
        // gate on the chunk's OWN declared size too: a short fmt chunk must
        // not have its parameters read from the next chunk's header bytes
        require(size >= 16, s"WAV fmt chunk of $size bytes too short")
        val audioFormat = in.u16le(at + 8)
        require(audioFormat == 1, s"unsupported WAV audio format $audioFormat (PCM only)")
        channels = in.u16le(at + 10)
        rate = in.i32le(at + 12)
        byteRate = in.i32le(at + 16)
        bits = in.u16le(at + 22)
      } else if (id == "data") {
        require(i + 8 + size.toLong <= bytes.length, "WAV data chunk overruns payload")
        dataBytes = size.toLong
        dataOffset = i + 8
      }
      i += 8L + size + (size & 1) // chunks are 2-byte aligned
    }
    require(channels > 0 && rate > 0 && byteRate > 0, "WAV has no fmt chunk")
    // bits is a divisor downstream (frame count = dataBytes / (channels *
    // bits/8)): a zero or non-byte-aligned value must fail NAMED here, not
    // as an opaque ArithmeticException in the caller
    require(bits > 0 && bits % 8 == 0, s"bad WAV bits-per-sample $bits")
    require(dataBytes >= 0, "WAV has no data chunk")
    WavMeta(channels, rate, bits, dataBytes, dataBytes * 1000L / byteRate, dataOffset)
  }

  /** Sum of the decoded PCM samples in the `data` chunk — the audio analog
    * of `pixelSum`: it is only right if the chunk walk, 2-byte alignment,
    * and sample decode are all correct. 16-bit samples are signed
    * little-endian int16; 8-bit samples are unsigned with a 128 bias
    * (both per the WAV PCM convention). Reuses [[parseWav]]'s chunk walk
    * (single source of truth for chunk location and containment). */
  def wavSampleSum(bytes: Array[Byte]): Long = {
    val meta = parseWav(bytes) // validates fmt (PCM), data presence, containment
    var sum = 0L
    var p = meta.dataOffset.toInt
    meta.bitsPerSample match {
      case 16 =>
        val end = p + meta.dataBytes.toInt - 1
        while (p < end) {
          sum += ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort
          p += 2
        }
      case 8 =>
        val end = p + meta.dataBytes.toInt
        while (p < end) { sum += (bytes(p) & 0xff) - 128; p += 1 }
      case o => throw new IllegalArgumentException(
        s"sample decode supports 8/16-bit PCM only, got $o")
    }
    sum
  }

  /** Decoded interleaved PCM samples (plus the meta): 16-bit signed LE or
    * 8-bit unsigned-biased, per the WAV convention — the sample-level input
    * of the [[AudioConvert]] surface. */
  def wavSamples(bytes: Array[Byte]): (WavMeta, Array[Int]) = {
    val meta = parseWav(bytes)
    val count = pcmSampleCount(meta)
    val out = new Array[Int](count)
    var p = meta.dataOffset.toInt
    var i = 0
    meta.bitsPerSample match {
      case 16 =>
        while (i < count) {
          out(i) = ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort.toInt
          p += 2; i += 1
        }
      case 8 =>
        while (i < count) { out(i) = (bytes(p) & 0xff) - 128; p += 1; i += 1 }
      case o => throw new IllegalArgumentException(
        s"sample decode supports 8/16-bit PCM only, got $o")
    }
    (meta, out)
  }

  /** Sample-count gate for the full-decode paths: the Array[Int] costs
    * 4 bytes per sample (2-4× the payload's data bytes), so an oversized
    * PCM payload must fail NAMED and contained here — the audio analog of
    * [[PixelBuf.init]]'s 64 MiB raster cap (16M samples × 4 B = 64 MiB) —
    * not as a task-killing OutOfMemoryError. */
  private def pcmSampleCount(meta: WavMeta): Int = {
    val count = meta.dataBytes / (meta.bitsPerSample / 8)
    require(count <= (1L << 24),
      s"PCM payload of $count samples exceeds the 16M-sample decode cap")
    count.toInt
  }

  def isAiff(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
      b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F'

  /** 80-bit IEEE 754 extended float → integer sample rate (the COMM chunk's
    * sampleRate field). Non-integer or out-of-range rates are named errors:
    * a deterministic engine has no business resampling to 44100.5 Hz. */
  private def extendedToRate(b: ByteCursor, at: Int): Int = {
    val se = b.u16be(at)
    require((se & 0x8000) == 0, "negative AIFF sample rate")
    val m = b.u64be(at + 2)
    val shift = 63 - (se - 16383)
    require(shift >= 0 && shift <= 63, s"AIFF sample-rate exponent $se out of range")
    val rate = m >>> shift
    require(rate > 0 && rate <= 10000000 && (rate << shift) == m,
      "AIFF sample rate is not a positive integer")
    rate.toInt
  }

  /** Integer sample rate → the 80-bit extended bytes (explicit integer
    * bit): exponent 16383 + floor(log2(rate)), mantissa left-justified. */
  private def rateToExtended(rate: Int): Array[Byte] = {
    require(rate > 0, s"bad sample rate $rate")
    val pos = 63 - java.lang.Long.numberOfLeadingZeros(rate.toLong)
    val e = 16383 + pos
    val m = rate.toLong << (63 - pos)
    val out = new Array[Byte](10)
    out(0) = ((e >>> 8) & 0xff).toByte
    out(1) = (e & 0xff).toByte
    var i = 0
    while (i < 8) { out(2 + i) = ((m >>> (56 - 8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  /** AIFF-C's plain-PCM sibling AIFF (FORM/AIFF: COMM + SSND, all
    * big-endian) — in both the reference's audio input and OUTPUT
    * whitelists (/root/reference/src/converters/audio_converters.py:40-47).
    * Same walk-containment contract as [[parseWav]]; the COMM frame count
    * is authoritative (SSND may carry trailing slack), `dataOffset` honors
    * the SSND offset field. */
  def parseAiff(bytes: Array[Byte]): WavMeta = {
    require(isAiff(bytes), "not a FORM/AIFF payload")
    var i = 12L
    var channels = 0
    var frames = -1L
    var bits = 0
    var rate = 0
    var ssndAt = -1L
    var ssndBytes = -1L
    val in = ByteCursor(bytes)
    while (i + 8 <= bytes.length) {
      val at = i.toInt
      val id = new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = in.i32be(at + 4)
      require(size >= 0, s"negative AIFF chunk size $size")
      if (id == "COMM") {
        require(size >= 18 && i + 8 + 18 <= bytes.length, "AIFF COMM chunk too short")
        channels = in.u16be(at + 8)
        frames = in.u32be(at + 10)
        bits = in.u16be(at + 14)
        rate = extendedToRate(in, at + 16)
      } else if (id == "SSND") {
        require(size >= 8 && i + 8 + size.toLong <= bytes.length,
          "AIFF SSND chunk overruns payload")
        val offset = in.u32be(at + 8)
        require(offset <= size - 8, "AIFF SSND offset overruns its chunk")
        ssndAt = i + 16 + offset
        ssndBytes = size - 8 - offset
      }
      i += 8L + size + (size & 1) // chunks are 2-byte aligned
    }
    require(channels > 0 && rate > 0 && frames >= 0, "AIFF has no COMM chunk")
    require(bits > 0 && bits % 8 == 0, s"bad AIFF bits-per-sample $bits")
    require(ssndBytes >= 0, "AIFF has no SSND chunk")
    val needed = frames * channels * (bits / 8)
    require(ssndBytes >= needed, "AIFF SSND data shorter than the COMM frame count")
    WavMeta(channels, rate, bits, needed, frames * 1000L / rate, ssndAt)
  }

  /** Decoded interleaved AIFF samples: 16-bit signed BIG-endian, 8-bit
    * SIGNED (AIFF, unlike WAV, stores 8-bit PCM two's-complement). */
  def aiffSamples(bytes: Array[Byte]): (WavMeta, Array[Int]) = {
    val meta = parseAiff(bytes)
    val count = pcmSampleCount(meta)
    val out = new Array[Int](count)
    var p = meta.dataOffset.toInt
    var i = 0
    meta.bitsPerSample match {
      case 16 =>
        while (i < count) {
          out(i) = (((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)).toShort.toInt
          p += 2; i += 1
        }
      case 8 =>
        while (i < count) { out(i) = bytes(p).toInt; p += 1; i += 1 }
      case o => throw new IllegalArgumentException(
        s"sample decode supports 8/16-bit PCM only, got $o")
    }
    (meta, out)
  }

  /** Interleaved samples → canonical 44-byte-header RIFF/WAVE PCM bytes
    * (the encode direction [[parseWav]]/[[wavSamples]] read back). Samples
    * must already be in the depth's range — [[AudioConvert]] clamps. */
  def encodeWav(channels: Int, rate: Int, bits: Int, samples: Array[Int]): Array[Byte] = {
    require(channels > 0 && rate > 0 && (bits == 8 || bits == 16),
      s"bad WAV params channels=$channels rate=$rate bits=$bits")
    require(samples.length % channels == 0, "partial trailing audio frame")
    val bytesPer = bits / 8
    val dataBytes = samples.length * bytesPer
    val buf = java.nio.ByteBuffer.allocate(44 + dataBytes + (dataBytes & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(36 + dataBytes + (dataBytes & 1))
    buf.put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(channels.toShort)
    buf.putInt(rate)
    buf.putInt(rate * channels * bytesPer)
    buf.putShort((channels * bytesPer).toShort)
    buf.putShort(bits.toShort)
    buf.put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(dataBytes)
    var i = 0
    while (i < samples.length) {
      if (bits == 16) buf.putShort(samples(i).toShort)
      else buf.put((samples(i) + 128).toByte) // WAV 8-bit is unsigned-biased
      i += 1
    }
    buf.array()
  }

  /** Interleaved samples → canonical FORM/AIFF bytes (COMM + zero-offset
    * SSND) — the layout [[parseAiff]]/[[aiffSamples]] read back. */
  def encodeAiff(channels: Int, rate: Int, bits: Int, samples: Array[Int]): Array[Byte] = {
    require(channels > 0 && rate > 0 && (bits == 8 || bits == 16),
      s"bad AIFF params channels=$channels rate=$rate bits=$bits")
    require(samples.length % channels == 0, "partial trailing audio frame")
    val bytesPer = bits / 8
    val dataBytes = samples.length * bytesPer
    val frames = samples.length / channels
    val buf = java.nio.ByteBuffer.allocate(54 + dataBytes + (dataBytes & 1))
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put("FORM".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(46 + dataBytes + (dataBytes & 1))
    buf.put("AIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.put("COMM".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(18)
    buf.putShort(channels.toShort)
    buf.putInt(frames)
    buf.putShort(bits.toShort)
    buf.put(rateToExtended(rate))
    buf.put("SSND".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(8 + dataBytes)
    buf.putInt(0) // offset
    buf.putInt(0) // block size
    var i = 0
    while (i < samples.length) {
      if (bits == 16) buf.putShort(samples(i).toShort)
      else buf.put(samples(i).toByte) // AIFF 8-bit is signed
      i += 1
    }
    buf.array()
  }

  /** Header-level dimensions for the REST of the reference's Pillow input
    * whitelist (/root/reference/src/converters/image_converters.py:42-48):
    * psd, icns, pcx, jp2, tga (2.0 footer-signed — v1 has no magic at all),
    * eps, svg(+svgz), xbm, xpm. Real parses of the published header
    * layouts — pixel decode for these needs their full codecs, but with
    * this sweep no whitelist format falls to the marked stub row with
    * fabricated-looking zeros when its dims are right there in the bytes. */
  final case class HeaderMeta(mime: String, width: Int, height: Int)

  private def asciiAt(b: Array[Byte], i: Int, s: String): Boolean =
    i >= 0 && i + s.length <= b.length &&
      s.indices.forall(k => (b(i + k) & 0xff) == s.charAt(k))

  // probe tables/patterns hoisted out of the per-row hot path — imageHeader
  // runs on every payload no earlier decoder claims, so these are shared,
  // not rebuilt per call
  private val IcnsDims = Map(
    "ics#" -> 16, "is32" -> 16, "s8mk" -> 16, "icp4" -> 16,
    "ICN#" -> 32, "il32" -> 32, "l8mk" -> 32, "icp5" -> 32, "ic11" -> 32,
    "ih32" -> 48, "h8mk" -> 48,
    "icp6" -> 64, "ic12" -> 64,
    "it32" -> 128, "t8mk" -> 128, "ic07" -> 128,
    "ic08" -> 256, "ic13" -> 256, "ic09" -> 512, "ic14" -> 512,
    "ic10" -> 1024)
  private val PcxVersions = Set(0, 2, 3, 4, 5)
  private val EpsBBoxRe =
    "%%BoundingBox:\\s+(-?\\d+)\\s+(-?\\d+)\\s+(-?\\d+)\\s+(-?\\d+)".r
  private val XbmDimRe = "#define\\s+\\S*?_?(width|height)\\s+(\\d+)".r
  private val XbmBitsRe = "static\\s+(?:unsigned\\s+)?char\\s+\\S*_bits\\s*\\[\\]".r
  private val XpmValsRe = "\"\\s*(\\d+)\\s+(\\d+)\\s+\\d+\\s+\\d+\\s*\"".r
  // attribute names must be preceded by whitespace so stroke-width /
  // data-width never match as width
  private val SvgWidthRe = "\\swidth=\"(\\d+)(?:px)?\"".r
  private val SvgHeightRe = "\\sheight=\"(\\d+)(?:px)?\"".r

  /** True iff the document's FIRST element tag is `<svg`, skipping the XML
    * prolog, doctype and comments — a substring `<svg` anywhere (e.g. an
    * inline icon in an HTML page) must NOT claim the payload as an image. */
  private def rootElementIsSvg(t: String): Boolean = {
    var i = 0
    while (i < t.length) {
      val lt = t.indexOf('<', i)
      if (lt < 0 || lt + 1 >= t.length) return false
      val c = t.charAt(lt + 1)
      if (c == '?' || c == '!') {
        val gt = t.indexOf('>', lt)
        if (gt < 0) return false
        i = gt + 1
      } else {
        return t.regionMatches(lt + 1, "svg", 0, 3) &&
          (lt + 4 >= t.length || " \t\r\n>/".indexOf(t.charAt(lt + 4)) >= 0)
      }
    }
    false
  }

  def imageHeader(bytes: Array[Byte]): Option[HeaderMeta] = {
    val in = ByteCursor(bytes)
    if (asciiAt(bytes, 0, "8BPS") && bytes.length >= 26 && in.u16be(4) == 1) {
      // PSD: height then width, u32be, at 14/18
      val h = in.u32be(14); val w = in.u32be(18)
      if (w > 0 && h > 0 && w <= 300000 && h <= 300000)
        Some(HeaderMeta("image/vnd.adobe.photoshop", w.toInt, h.toInt)) else None
    } else if (asciiAt(bytes, 0, "icns") && bytes.length >= 16) {
      // ICNS: OSType + u32be length entries; dims are fixed per type —
      // largest entry wins (the ICO convention)
      var i = 8
      var best = 0
      while (i + 8 <= bytes.length) {
        val tpe = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val len = in.u32be(i + 4)
        require(len >= 8 && i + len <= bytes.length, s"icns entry $tpe overruns payload")
        IcnsDims.get(tpe).foreach(d => best = math.max(best, d))
        i += len.toInt
      }
      if (best > 0) Some(HeaderMeta("image/icns", best, best)) else None
    } else if (bytes.length >= 128 && (bytes(0) & 0xff) == 0x0a &&
               PcxVersions(bytes(1) & 0xff) && (bytes(2) & 0xff) == 1) {
      // PCX: RLE-encoded (encoding byte 1); window xmin/ymin/xmax/ymax u16le
      val w = in.u16le(8) - in.u16le(4) + 1
      val h = in.u16le(10) - in.u16le(6) + 1
      if (w > 0 && h > 0) Some(HeaderMeta("image/x-pcx", w, h)) else None
    } else if (bytes.length >= 32 && in.u32be(0) == 12 && asciiAt(bytes, 4, "jP  ") &&
               in.u32be(8) == 0x0d0a870aL) {
      // JP2: signature box, then the jp2h superbox's ihdr (height, width u32be)
      var dims: Option[HeaderMeta] = None
      bmffWalk(in, 12, bytes.length) {
        case ("jp2h", hs, he) => bmffWalk(in, hs, he) {
          case ("ihdr", is, ie) if ie - is >= 8 && dims.isEmpty =>
            val h = in.u32be(is); val w = in.u32be(is + 4)
            if (w > 0 && h > 0 && w <= 300000 && h <= 300000)
              dims = Some(HeaderMeta("image/jp2", w.toInt, h.toInt))
          case _ => ()
        }
        case _ => () // ftyp, contiguous codestream, ...
      }
      dims
    } else if (bytes.length >= 44 &&
               asciiAt(bytes, bytes.length - 18, "TRUEVISION-XFILE.")) {
      // TGA 2.0: no leading magic — the footer signature identifies it;
      // dims at 12/14 u16le in the 18-byte header
      val w = in.u16le(12); val h = in.u16le(14)
      if (w > 0 && h > 0) Some(HeaderMeta("image/x-tga", w, h)) else None
    } else if (asciiAt(bytes, 0, "%!PS")) {
      // EPS: %%BoundingBox: x0 y0 x1 y1 (points; the reference's Pillow
      // EpsImagePlugin reads the same comment)
      val head = new String(bytes, 0, math.min(bytes.length, 4096),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      EpsBBoxRe.findFirstMatchIn(head).flatMap { m =>
        val w = m.group(3).toInt - m.group(1).toInt
        val h = m.group(4).toInt - m.group(2).toInt
        if (w > 0 && h > 0) Some(HeaderMeta("application/postscript", w, h)) else None
      }
    } else if (asciiAt(bytes, 0, "#define")) {
      // XBM: C source with name_width / name_height defines AND the bits
      // array every real XBM carries — a config header full of #defines
      // must not claim as an image
      val head = new String(bytes, 0, math.min(bytes.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (XbmBitsRe.findFirstIn(head).isEmpty) None
      else {
        val found =
          XbmDimRe.findAllMatchIn(head).map(m => m.group(1) -> m.group(2).toInt).toMap
        for (w <- found.get("width"); h <- found.get("height"))
          yield HeaderMeta("image/x-xbitmap", w, h)
      }
    } else if (asciiAt(bytes, 0, "/* XPM */")) {
      // XPM: first string literal is "W H ncolors chars-per-pixel"
      val head = new String(bytes, 0, math.min(bytes.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      XpmValsRe.findFirstMatchIn(head).map(m =>
        HeaderMeta("image/x-xpixmap", m.group(1).toInt, m.group(2).toInt))
    } else {
      // SVG (optionally gzip-wrapped .svgz): width/height attributes of the
      // root element, bare or px-suffixed — unitless like Pillow treats them
      val text =
        if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
          try {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(bytes), 4096)
            try new String(in.readNBytes(8192), java.nio.charset.StandardCharsets.ISO_8859_1)
            finally in.close()
          } catch { case _: java.io.IOException => "" }
        } else new String(bytes, 0, math.min(bytes.length, 4096),
          java.nio.charset.StandardCharsets.ISO_8859_1)
      // the root element must BE <svg — an HTML page with an inline <svg
      // icon is a document, not an image
      if (!rootElementIsSvg(text)) None
      else {
        val at = text.indexOf("<svg")
        val tagEnd = text.indexOf('>', at)
        val tag = if (tagEnd > at) text.substring(at, tagEnd) else text.substring(at)
        for (w <- SvgWidthRe.findFirstMatchIn(tag).map(_.group(1).toInt);
             h <- SvgHeightRe.findFirstMatchIn(tag).map(_.group(1).toInt))
          yield HeaderMeta("image/svg+xml", w, h)
      }
    }
  }

  /** WebP header-level metadata: REAL canvas dimensions (and animation
    * frame count) from the container headers; pixel decode would need the
    * VP8 entropy codec. Both formats are in the reference's Pillow input
    * whitelist (/root/reference/src/converters/image_converters.py:42-46) —
    * header dims keep their rows out of the stub-decode fallback. */
  final case class WebpMeta(width: Int, height: Int, frames: Int, variant: String)

  def isWebp(b: Array[Byte]): Boolean =
    b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'

  /** RIFF chunk walk over the three WebP bitstream variants: `VP8 ` (lossy —
    * 3-byte frame tag, 9D 01 2A sync code, 14-bit dims in two u16le),
    * `VP8L` (lossless — 0x2F signature, 14+14-bit dims-minus-one packed
    * LSB-first), `VP8X` (extended — flags byte, 24-bit canvas dims-minus-one;
    * authoritative over any later VP8/VP8L frame dims, which describe the
    * fragment, not the canvas). Animated files (`VP8X` flag 0x02) report
    * their `ANMF` chunk count as `frames`. */
  def parseWebp(bytes: Array[Byte]): WebpMeta = {
    require(isWebp(bytes), "not a WebP payload")
    var i = 12
    var width = 0
    var height = 0
    var frames = 0
    var variant = ""
    var animated = false
    val in = ByteCursor(bytes)
    while (i + 8 <= bytes.length) {
      val fourcc = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = in.i32le(i + 4)
      require(size >= 0 && i + 8 + size.toLong <= bytes.length,
        s"WebP chunk $fourcc overruns payload")
      val d = i + 8
      fourcc match {
        case "VP8X" =>
          require(size >= 10, "VP8X chunk too short")
          animated = (bytes(d) & 0x02) != 0
          width = in.u24le(d + 4) + 1
          height = in.u24le(d + 7) + 1
          variant = "vp8x"
        case "VP8 " if variant.isEmpty =>
          require(size >= 10, "VP8 chunk too short")
          require((bytes(d + 3) & 0xff) == 0x9d && (bytes(d + 4) & 0xff) == 0x01 &&
            (bytes(d + 5) & 0xff) == 0x2a, "VP8 sync code missing")
          width = in.u16le(d + 6) & 0x3fff
          height = in.u16le(d + 8) & 0x3fff
          variant = "vp8"
        case "VP8L" if variant.isEmpty =>
          require(size >= 5, "VP8L chunk too short")
          require((bytes(d) & 0xff) == 0x2f, "VP8L signature missing")
          val dims = in.i32le(d + 1)
          width = (dims & 0x3fff) + 1
          height = ((dims >>> 14) & 0x3fff) + 1
          variant = "vp8l"
        case "ANMF" => frames += 1
        case _ => () // ALPH, ICCP, EXIF, XMP, ...
      }
      i += 8 + size + (size & 1) // RIFF chunks are 2-byte aligned
    }
    require(variant.nonEmpty && width > 0 && height > 0,
      "WebP has no VP8/VP8L/VP8X header")
    WebpMeta(width, height, if (animated) frames else 1, variant)
  }

  /** ICO directory metadata: dims of the LARGEST directory entry (the size
    * Pillow reports for a multi-resolution icon) and the entry count as
    * `frames`; the 0-coded axis means 256 per the ICONDIR convention.
    * `bestOffset`/`bestSize` locate the winning entry's image data so the
    * convert surface decodes the SAME entry these dims describe. */
  final case class IcoMeta(width: Int, height: Int, frames: Int,
                           bestOffset: Int, bestSize: Int)

  def isIco(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 0 && b(1) == 0 && b(2) == 1 && b(3) == 0 &&
      ByteCursor(b).u16le(4) >= 1

  def parseIco(bytes: Array[Byte]): IcoMeta = {
    require(isIco(bytes), "not an ICO payload")
    val in = ByteCursor(bytes)
    val count = in.u16le(4)
    require(6 + count * 16 <= bytes.length, "ICONDIR overruns payload")
    var bestW = 0
    var bestH = 0
    var bestOffset = 0
    var bestSize = 0
    var k = 0
    while (k < count) {
      val at = 6 + k * 16
      val w = { val v = bytes(at) & 0xff; if (v == 0) 256 else v }
      val h = { val v = bytes(at + 1) & 0xff; if (v == 0) 256 else v }
      val sizeInRes = in.i32le(at + 8)
      val offset = in.i32le(at + 12)
      require(sizeInRes >= 0 && offset >= 0 && offset.toLong + sizeInRes <= bytes.length,
        s"ICO entry $k image data overruns payload")
      if (w.toLong * h > bestW.toLong * bestH) {
        bestW = w; bestH = h; bestOffset = offset; bestSize = sizeInRes
      }
      k += 1
    }
    IcoMeta(bestW, bestH, count, bestOffset, bestSize)
  }

  // ==========================================================================
  // Audio input whitelist sweep — the audio analog of [[imageHeader]].
  //
  // The reference's pydub/mutagen input whitelist
  // (/root/reference/src/converters/audio_converters.py:40-44) names 21
  // extensions. wav/aiff decode samples for real; mp3/ogg/flac/m4a parse
  // their tag containers ([[parseId3v2]]/[[parseOggVorbis]]/[[parseFlac]]/
  // [[parseMp4]]). This section covers the REST with real header parses of
  // the published container layouts — au and caf additionally decode PCM
  // samples (they are plain PCM containers, [[auSamples]]/[[cafSamples]]).
  // `.raw` stays unclaimable by design: headerless PCM has no magic at all
  // (extension-routing territory, like TGA v1). Frame/entropy data is never
  // decoded here; CRCs are not verified.
  // ==========================================================================

  /** End of data for the framed-audio header bit walks (AC-3/E-AC-3/DTS
    * pack fields at bit granularity). */
  private val headerBitsEnd = BitReader.requireFailed("bitfield read past end of payload")

  /** One header-metadata shape for the whole sweep. `channels == 0` means
    * the layout was NOT parsed (MLP/TrueHD channel assignment needs the
    * full presentation map) — never a fabricated guess; `durationMs == 0`
    * on an Ogg stream means no page carries a granule position. */
  final case class AudioHeaderMeta(mime: String, channels: Int, rate: Int,
                                   durationMs: Long)

  // ---- Sun/NeXT .au (public header: 6 u32be fields) ----
  final case class AuMeta(encoding: Int, channels: Int, rate: Int,
                          dataOffset: Int, dataBytes: Int) {
    def bytesPerSample: Int = if (encoding == 3) 2 else 1
    def frames: Long = dataBytes.toLong / (bytesPerSample * channels)
    def durationMs: Long = frames * 1000L / rate
  }

  def isAu(b: Array[Byte]): Boolean =
    b.length >= 24 && b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd'

  /** .au header: magic, data offset, data size (0xFFFFFFFF = unknown →
    * rest of payload), encoding (1 = G.711 µ-law, 2 = PCM8 signed,
    * 3 = PCM16 big-endian signed — the three PCM-ish encodings; ADPCM
    * variants are named errors), sample rate, channels. */
  def parseAu(bytes: Array[Byte]): AuMeta = {
    require(isAu(bytes), "not a .au payload")
    val in = ByteCursor(bytes)
    val off = in.u32be(4)
    val size = in.u32be(8)
    val enc = in.i32be(12)
    val rate = in.i32be(16)
    val ch = in.i32be(20)
    require(off >= 24 && off <= bytes.length, s"AU data offset $off out of range")
    val data = if (size == 0xffffffffL) bytes.length - off else size
    require(data >= 0 && off + data <= bytes.length, "AU data size overruns payload")
    require(enc == 1 || enc == 2 || enc == 3,
      s"AU encoding $enc unsupported (mu-law/PCM8/PCM16 only)")
    require(ch >= 1 && ch <= 64, s"bad AU channel count $ch")
    require(rate > 0 && rate <= 768000, s"bad AU sample rate $rate")
    AuMeta(enc, ch, rate, off.toInt, data.toInt)
  }

  /** G.711 µ-law byte → 16-bit PCM (the CCITT reference expansion:
    * complement, then ((mantissa<<3)+0x84)<<exponent re-biased). Known
    * vector: 0x00 → -32124, 0x80 → +32124, 0xFF/0x7F → 0 (pinned in
    * AudioConvertSpec). */
  def ulawToPcm(u: Int): Int = {
    val x = ~u & 0xff
    val t = (((x & 0x0f) << 3) + 0x84) << ((x >> 4) & 7)
    if ((x & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** Decoded interleaved samples: µ-law expands to the 16-bit range,
    * PCM8 is SIGNED (unlike WAV's biased u8), PCM16 is big-endian. */
  def auSamples(bytes: Array[Byte]): (AuMeta, Array[Int]) = {
    val m = parseAu(bytes)
    val count = m.dataBytes / m.bytesPerSample
    require(count <= (1L << 24),
      s"PCM payload of $count samples exceeds the 16M-sample decode cap")
    val out = new Array[Int](count.toInt)
    var p = m.dataOffset
    var i = 0
    m.encoding match {
      case 1 => while (i < count) { out(i) = ulawToPcm(bytes(p) & 0xff); p += 1; i += 1 }
      case 2 => while (i < count) { out(i) = bytes(p).toInt; p += 1; i += 1 }
      case _ => while (i < count) {
        out(i) = ((bytes(p) << 8) | (bytes(p + 1) & 0xff)).toShort.toInt
        p += 2; i += 1
      }
    }
    (m, out)
  }

  // ---- Apple CAF (public spec: caff header + desc/data chunks) ----
  final case class CafMeta(channels: Int, rate: Int, bits: Int,
                           littleEndian: Boolean, dataOffset: Int, dataBytes: Int) {
    def frames: Long = dataBytes.toLong / (channels * (bits / 8))
    def durationMs: Long = frames * 1000L / rate
  }

  def isCaf(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 'c' && b(1) == 'a' && b(2) == 'f' && b(3) == 'f' &&
      ByteCursor(b).u32be(4) == 0x00010000L // u16 version 1, u16 flags 0

  /** CAF chunk walk: `desc` (f64be sample rate, 'lpcm' fourcc, format
    * flags — bit0 float, bit1 little-endian — and the packet/channel/bit
    * geometry), `data` (u32be edit count + samples; size -1 = rest of
    * file). Integer 8/16-bit LPCM only; float and compressed formatIDs
    * are named errors. */
  def parseCaf(bytes: Array[Byte]): CafMeta = {
    require(isCaf(bytes), "not a CAF payload")
    var i = 8L
    var channels = 0; var rate = 0; var bits = 0; var little = false
    var dataOffset = -1L; var dataBytes = -1L
    val in = ByteCursor(bytes)
    while (i + 12 <= bytes.length && (channels == 0 || dataBytes < 0)) {
      val at = i.toInt
      val tpe = new String(bytes, at, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = in.u64be(at + 4)
      require(size >= -1L, s"bad CAF chunk size $size")
      val bodyAt = i + 12
      if (tpe == "desc") {
        require(size >= 32 && bodyAt + 32 <= bytes.length, "CAF desc chunk truncated")
        val rateBits = in.u64be(at + 12)
        val rateD = java.lang.Double.longBitsToDouble(rateBits)
        require(rateD > 0 && rateD <= 768000 && rateD == math.rint(rateD),
          s"bad CAF sample rate $rateD")
        rate = rateD.toInt
        val fmt = new String(bytes, at + 20, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        require(fmt == "lpcm", s"CAF format '$fmt' unsupported (lpcm only)")
        val flags = in.u32be(at + 24)
        require((flags & 1L) == 0, "CAF float LPCM unsupported")
        little = (flags & 2L) != 0
        val bytesPerPacket = in.u32be(at + 28)
        val framesPerPacket = in.u32be(at + 32)
        channels = in.i32be(at + 36)
        bits = in.i32be(at + 40)
        require(channels >= 1 && channels <= 64, s"bad CAF channel count $channels")
        require(bits == 8 || bits == 16, s"CAF $bits-bit LPCM unsupported (8/16)")
        require(framesPerPacket == 1 && bytesPerPacket == channels.toLong * (bits / 8),
          "CAF packet geometry is not plain interleaved LPCM")
      } else if (tpe == "data") {
        val body = if (size == -1L) bytes.length - bodyAt else size
        require(body >= 4 && bodyAt + body <= bytes.length, "CAF data chunk overruns payload")
        dataOffset = bodyAt + 4 // mEditCount
        dataBytes = body - 4
      }
      if (size == -1L) i = bytes.length.toLong
      else i = bodyAt + size
    }
    require(channels > 0, "CAF has no desc chunk")
    require(dataBytes >= 0, "CAF has no data chunk")
    CafMeta(channels, rate, bits, little, dataOffset.toInt, dataBytes.toInt)
  }

  def cafSamples(bytes: Array[Byte]): (CafMeta, Array[Int]) = {
    val m = parseCaf(bytes)
    val count = m.dataBytes / (m.bits / 8)
    require(count <= (1L << 24),
      s"PCM payload of $count samples exceeds the 16M-sample decode cap")
    val out = new Array[Int](count.toInt)
    var p = m.dataOffset
    var i = 0
    if (m.bits == 16) {
      while (i < count) {
        out(i) = (if (m.littleEndian) (bytes(p) & 0xff) | (bytes(p + 1) << 8)
                  else (bytes(p) << 8) | (bytes(p + 1) & 0xff)).toShort.toInt
        p += 2; i += 1
      }
    } else {
      while (i < count) { out(i) = bytes(p).toInt; p += 1; i += 1 } // CAF i8 is signed
    }
    (m, out)
  }

  // ---- True Audio (TTA1: one fixed 22-byte header) ----
  def isTta(b: Array[Byte]): Boolean =
    b.length >= 22 && b(0) == 'T' && b(1) == 'T' && b(2) == 'A' && b(3) == '1'

  def parseTta(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isTta(bytes), "not a TTA1 payload")
    val in = ByteCursor(bytes)
    val format = in.u16le(4)
    require(format == 1, s"TTA format $format unsupported (integer PCM only)")
    val channels = in.u16le(6)
    val rate = in.i32le(10)
    val samples = in.u32le(14) // per channel
    require(channels >= 1 && channels <= 64, s"bad TTA channel count $channels")
    require(rate > 0 && rate <= 768000, s"bad TTA sample rate $rate")
    AudioHeaderMeta("audio/x-tta", channels, rate, samples * 1000L / rate)
  }

  // ---- Monkey's Audio (APE >= 3.98 descriptor + header layout) ----
  def isApe(b: Array[Byte]): Boolean =
    b.length >= 10 && b(0) == 'M' && b(1) == 'A' && b(2) == 'C' && b(3) == ' '

  def parseApe(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isApe(bytes), "not an APE payload")
    val in = ByteCursor(bytes)
    val version = in.u16le(4)
    require(version >= 3980, s"APE version $version pre-3.98 layout unsupported")
    val descriptorBytes = in.u32le(8)
    require(descriptorBytes >= 52 && descriptorBytes + 24 <= bytes.length,
      "APE descriptor overruns payload")
    val h = descriptorBytes.toInt
    val blocksPerFrame = in.u32le(h + 4)
    val finalFrameBlocks = in.u32le(h + 8)
    val totalFrames = in.u32le(h + 12)
    val channels = in.u16le(h + 18)
    val rate = in.i32le(h + 20)
    require(channels >= 1 && channels <= 32, s"bad APE channel count $channels")
    require(rate > 0 && rate <= 768000, s"bad APE sample rate $rate")
    // bound the u32 fields BEFORE multiplying: hostile values near 2^32
    // would overflow the Long product into a negative duration
    require(blocksPerFrame <= (1L << 26) && totalFrames <= (1L << 26) &&
      finalFrameBlocks <= blocksPerFrame.max(1L),
      "implausible APE frame geometry")
    val totalBlocks =
      if (totalFrames == 0) 0L
      else (totalFrames - 1) * blocksPerFrame + finalFrameBlocks
    AudioHeaderMeta("audio/x-ape", channels, rate, totalBlocks * 1000L / rate)
  }

  // ---- WavPack (32-byte block header) ----
  private val WavpackRates = Array(6000, 8000, 9600, 11025, 12000, 16000,
    22050, 24000, 32000, 44100, 48000, 64000, 88200, 96000, 192000)

  def isWavpack(b: Array[Byte]): Boolean =
    b.length >= 32 && b(0) == 'w' && b(1) == 'v' && b(2) == 'p' && b(3) == 'k'

  def parseWavpack(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isWavpack(bytes), "not a WavPack payload")
    val in = ByteCursor(bytes)
    val version = in.u16le(8)
    require(version >= 0x402 && version <= 0x410,
      f"WavPack stream version 0x$version%x unsupported")
    val totalSamples = in.u32le(12)
    require(totalSamples != 0xffffffffL,
      "WavPack total sample count unknown in this block")
    val flags = in.u32le(24)
    val rateIdx = ((flags >> 23) & 0xf).toInt
    require(rateIdx < 15, "WavPack custom sample rate unsupported")
    val rate = WavpackRates(rateIdx)
    val channels = if ((flags & 4L) != 0) 1 else 2
    AudioHeaderMeta("audio/x-wavpack", channels, rate, totalSamples * 1000L / rate)
  }

  // ---- ADTS AAC (fixed 7/9-byte frame headers, 1024 samples each) ----
  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** The 12-bit ADTS sync is weak on its own (a raw PCM payload can open
    * 0xFF 0xF1), so the probe also validates the first frame's structure:
    * legal frequency index and channel config, and the frame length either
    * covers the whole payload or chains to a second syncword. */
  def isAdts(b: Array[Byte]): Boolean = {
    if (b.length < 7 || (b(0) & 0xff) != 0xff || (b(1) & 0xf6) != 0xf0)
      return false
    val freqIdx = (b(2) >> 2) & 0xf
    val chanCfg = ((b(2) & 1) << 2) | ((b(3) >> 6) & 3)
    if (freqIdx >= 13 || chanCfg < 1 || chanCfg > 7) return false
    val len = ((b(3) & 3) << 11) | ((b(4) & 0xff) << 3) | ((b(5) >> 5) & 7)
    len >= 7 && (len == b.length ||
      (len + 2 <= b.length && (b(len) & 0xff) == 0xff && (b(len + 1) & 0xf6) == 0xf0))
  }

  def parseAdts(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isAdts(bytes), "not an ADTS payload")
    val freqIdx = (bytes(2) >> 2) & 0xf
    require(freqIdx < 13, s"bad ADTS sampling frequency index $freqIdx")
    val rate = AdtsRates(freqIdx)
    val chanCfg = ((bytes(2) & 1) << 2) | ((bytes(3) >> 6) & 3)
    require(chanCfg >= 1 && chanCfg <= 7, s"ADTS channel configuration $chanCfg unsupported")
    val channels = if (chanCfg == 7) 8 else chanCfg
    var frames = 0L
    var i = 0
    while (i + 7 <= bytes.length) {
      require((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xf6) == 0xf0,
        s"ADTS frame sync lost at $i")
      val len = ((bytes(i + 3) & 3) << 11) | ((bytes(i + 4) & 0xff) << 3) |
        ((bytes(i + 5) >> 5) & 7)
      require(len >= 7 && i + len <= bytes.length, s"ADTS frame at $i overruns payload")
      frames += 1
      i += len
    }
    AudioHeaderMeta("audio/aac", channels, rate, frames * 1024L * 1000L / rate)
  }

  // ---- bare MPEG audio / .mp3 (frame headers walked, never decoded) ----
  // kbps by (version, layer); -1 marks the reserved index slots
  private val MpegKbpsV1 = Array(
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448), // L1
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),    // L2
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))     // L3
  private val MpegKbpsV2 = Array(
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),    // L1
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),         // L2/L3
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val MpegRatesV1 = Array(44100, 48000, 32000)

  /** Frame geometry from the 4-byte header at `i`: (frameBytes,
    * samplesPerFrame, sampleRate, channels), or null if the sync word or
    * any field is invalid/reserved. Free-format (bitrate index 0) is
    * unclaimable — its frame length is not derivable from the header. */
  private def mpegFrame(b: Array[Byte], i: Int): Array[Int] = {
    if (i + 4 > b.length || (b(i) & 0xff) != 0xff || (b(i + 1) & 0xe0) != 0xe0)
      return null
    val verBits = (b(i + 1) >> 3) & 3   // 0=MPEG-2.5, 2=MPEG-2, 3=MPEG-1
    val layerBits = (b(i + 1) >> 1) & 3 // 1=III, 2=II, 3=I
    if (verBits == 1 || layerBits == 0) return null
    val layer = 3 - layerBits           // 0=L1, 1=L2, 2=L3
    val brIdx = (b(i + 2) >> 4) & 0xf
    val frIdx = (b(i + 2) >> 2) & 3
    if (brIdx == 0 || brIdx == 15 || frIdx == 3) return null
    val kbps = (if (verBits == 3) MpegKbpsV1 else MpegKbpsV2)(layer)(brIdx)
    val rate = MpegRatesV1(frIdx) >> (verBits match {
      case 3 => 0; case 2 => 1; case _ => 2 })
    val pad = (b(i + 2) >> 1) & 1
    val len = layer match {
      case 0 => (12000 * kbps / rate + pad) * 4
      case 1 => 144000 * kbps / rate + pad
      case _ => (if (verBits == 3) 144000 else 72000) * kbps / rate + pad
    }
    val spf = layer match {
      case 0 => 384
      case 1 => 1152
      case _ => if (verBits == 3) 1152 else 576
    }
    val channels = if (((b(i + 3) >> 6) & 3) == 3) 1 else 2
    Array(len, spf, rate, channels)
  }

  /** Offset of the first MPEG audio frame (skipping a leading ID3v2 tag),
    * or -1 when the payload is not claimable. Like [[isAdts]], the claim
    * needs the first frame to either fill the payload (up to a trailing
    * ID3v1 tag) or chain onto a second valid sync — the bare 11-bit sync
    * word alone is far too weak. */
  def mpegAudioStart(b: Array[Byte]): Int = {
    var i = 0
    if (isId3v2(b)) {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      i = 10 + size + (if ((b(5) & 0x10) != 0) 10 else 0)
      if (i < 0 || i >= b.length) return -1
    }
    val f = mpegFrame(b, i)
    if (f == null) return -1
    val end = i + f(0)
    val tailOk = end == b.length ||
      (end + 3 <= b.length && b(end) == 'T' && b(end + 1) == 'A' && b(end + 2) == 'G')
    if (tailOk || mpegFrame(b, end) != null) i else -1
  }

  def isMpegAudio(b: Array[Byte]): Boolean = mpegAudioStart(b) >= 0

  /** Bare MPEG-1/2/2.5 Layer I/II/III stream (.mp3): frame-header walk —
    * duration accumulates samples-per-frame per frame against the stream's
    * sample rate (so VBR streams, where the bitrate index changes frame to
    * frame, total correctly: the pydub `len(audio)` contract,
    * /root/reference/src/converters/audio_converters.py:114). Trailing
    * metadata blocks (ID3v1 `TAG`, APEv2 `APETAGEX`, Lyrics3v2
    * `LYRICSBEGIN`) are skipped; a mid-stream sync loss or a rate change
    * is a named error, never a silently-short duration. */
  def parseMpegAudio(bytes: Array[Byte]): AudioHeaderMeta = {
    val start = mpegAudioStart(bytes)
    require(start >= 0, "not an MPEG audio payload")
    val first = mpegFrame(bytes, start)
    var i = start
    var samples = 0L
    var frames = 0
    // common appended metadata trailers real taggers write after the last
    // frame: ID3v1 "TAG", APEv2 "APETAGEX", Lyrics3v2 "LYRICSBEGIN" —
    // dying on them would error-row ordinary foobar2000/mp3gain files
    def atTrailer(j: Int): Boolean = {
      def lit(s: String): Boolean =
        j + s.length <= bytes.length &&
          (0 until s.length).forall(k => bytes(j + k) == s.charAt(k).toByte)
      lit("TAG") || lit("APETAGEX") || lit("LYRICSBEGIN")
    }
    while (i < bytes.length && !atTrailer(i)) {
      val f = mpegFrame(bytes, i)
      require(f != null, s"MPEG audio frame sync lost at $i")
      require(f(2) == first(2), s"MPEG audio sample rate changed at $i")
      require(i + f(0) <= bytes.length, s"MPEG audio frame at $i overruns payload")
      samples += f(1)
      frames += 1
      require(frames <= (1 << 20), "MPEG audio stream exceeds the 1M-frame cap")
      i += f(0)
    }
    AudioHeaderMeta("audio/mpeg", first(3), first(2), samples * 1000L / first(2))
  }

  // ---- AC-3 / E-AC-3 (syncframe headers; frames walked, never decoded) ----
  private val Ac3Rates = Array(48000, 44100, 32000)
  private val Ac3Kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
    192, 224, 256, 320, 384, 448, 512, 576, 640)
  private val Ac3FullBw = Array(2, 1, 2, 3, 3, 4, 4, 5) // by acmod (0 = 1+1 dual mono)

  /** The 16-bit AC-3 sync is weak on its own, so the probe also validates
    * the first frame's structural fields for whichever bsid family the
    * payload declares (AC-3: legal fscod/frmsizecod; E-AC-3: frame size
    * within the payload). */
  def isAc3Sync(b: Array[Byte]): Boolean = {
    if (b.length < 8 || (b(0) & 0xff) != 0x0b || (b(1) & 0xff) != 0x77)
      return false
    val bsid = (b(5) >> 3) & 0x1f
    if (bsid <= 8) {
      val fscod = (b(4) >> 6) & 3
      val frmsizecod = b(4) & 0x3f
      fscod < 3 && frmsizecod < 38 && ac3FrameBytes(fscod, frmsizecod) <= b.length
    } else if (bsid >= 11 && bsid <= 16) {
      val frmsiz = ((b(2) & 7) << 8) | (b(3) & 0xff)
      val fscod = (b(4) >> 6) & 3
      (frmsiz + 1) * 2 <= b.length && (fscod != 3 || ((b(4) >> 4) & 3) < 3)
    } else false
  }

  /** AC-3 frame size in bytes from fscod/frmsizecod (A/52 frame-size
    * table as the closed forms it tabulates: 48k = 2·kbps words,
    * 44.1k = ⌊kbps·96000/44100⌋ (+1 for odd codes), 32k = 3·kbps words).
    * Pinned against the published table in AudioConvertSpec
    * (384 kbps @ 48 kHz = 1536 bytes). */
  private def ac3FrameBytes(fscod: Int, frmsizecod: Int): Int = {
    val kbps = Ac3Kbps(frmsizecod >> 1)
    val words = fscod match {
      case 0 => 2 * kbps
      case 1 => (kbps.toLong * 96000 / 44100).toInt + (frmsizecod & 1)
      case _ => 3 * kbps
    }
    words * 2
  }

  def parseAc3(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isAc3Sync(bytes), "not an AC-3/E-AC-3 payload")
    val bsid = (bytes(5) >> 3) & 0x1f
    if (bsid > 10) return parseEac3(bytes)
    require(bsid <= 8, s"AC-3 bsid $bsid unsupported")
    val fscod0 = (bytes(4) >> 6) & 3
    require(fscod0 < 3, "bad AC-3 fscod")
    val rate = Ac3Rates(fscod0)
    // acmod + the acmod-dependent mix-level fields, then lfeon (bit walk)
    val bc = new MsbReader(bytes, 6, bytes.length, headerBitsEnd)
    val acmod = bc.read(3)
    if ((acmod & 1) != 0 && acmod != 1) bc.read(2) // cmixlev
    if ((acmod & 4) != 0) bc.read(2) // surmixlev
    if (acmod == 2) bc.read(2) // dsurmod
    val lfeon = bc.read(1)
    val channels = Ac3FullBw(acmod) + lfeon
    var frames = 0L
    var i = 0
    while (i + 8 <= bytes.length) {
      require((bytes(i) & 0xff) == 0x0b && (bytes(i + 1) & 0xff) == 0x77,
        s"AC-3 frame sync lost at $i")
      val fscod = (bytes(i + 4) >> 6) & 3
      val frmsizecod = bytes(i + 4) & 0x3f
      require(fscod < 3 && frmsizecod < 38, s"bad AC-3 frame code at $i")
      val len = ac3FrameBytes(fscod, frmsizecod)
      require(i + len <= bytes.length, s"AC-3 frame at $i overruns payload")
      frames += 1
      i += len
    }
    AudioHeaderMeta("audio/ac3", channels, rate, frames * 1536L * 1000L / rate)
  }

  private val Eac3Blocks = Array(1, 2, 3, 6)
  private val Eac3ReducedRates = Array(24000, 22050, 16000)

  /** E-AC-3 (bsid 11-16): frmsiz gives the frame size directly; fscod 3
    * switches to the reduced-rate table at a fixed 6 blocks. */
  def parseEac3(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isAc3Sync(bytes), "not an E-AC-3 payload")
    val bsid = (bytes(5) >> 3) & 0x1f
    require(bsid >= 11 && bsid <= 16, s"E-AC-3 bsid $bsid out of range")
    def frameInfo(i: Int): (Int, Int, Int) = {
      val frmsiz = ((bytes(i + 2) & 7) << 8) | (bytes(i + 3) & 0xff)
      val len = (frmsiz + 1) * 2
      val fscod = (bytes(i + 4) >> 6) & 3
      val (rate, blocks) =
        if (fscod == 3) {
          val fscod2 = (bytes(i + 4) >> 4) & 3
          require(fscod2 < 3, "bad E-AC-3 fscod2")
          (Eac3ReducedRates(fscod2), 6)
        } else (Ac3Rates(fscod), Eac3Blocks((bytes(i + 4) >> 4) & 3))
      (len, rate, blocks)
    }
    val (_, rate0, _) = frameInfo(0)
    val acmod = (bytes(4) >> 1) & 7
    val lfeon = bytes(4) & 1
    val channels = Ac3FullBw(acmod) + lfeon
    var i = 0
    var samples = 0L
    while (i + 8 <= bytes.length) {
      require((bytes(i) & 0xff) == 0x0b && (bytes(i + 1) & 0xff) == 0x77,
        s"E-AC-3 frame sync lost at $i")
      val (len, _, blocks) = frameInfo(i)
      require(i + len <= bytes.length, s"E-AC-3 frame at $i overruns payload")
      samples += blocks * 256L
      i += len
    }
    AudioHeaderMeta("audio/eac3", channels, rate0, samples * 1000L / rate0)
  }

  // ---- DTS core (bit-packed frame header) ----
  private val DtsRates = Map(1 -> 8000, 2 -> 16000, 3 -> 32000, 6 -> 11025,
    7 -> 22050, 8 -> 44100, 11 -> 12000, 12 -> 24000, 13 -> 48000)
  private val DtsChannels = Array(1, 2, 2, 2, 2, 3, 3, 4, 4, 5)

  def isDts(b: Array[Byte]): Boolean =
    b.length >= 10 && (b(0) & 0xff) == 0x7f && (b(1) & 0xff) == 0xfe &&
      (b(2) & 0xff) == 0x80 && (b(3) & 0xff) == 0x01

  def parseDts(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isDts(bytes), "not a DTS core payload")
    def header(i: Int): (Int, Int, Int, Int) = {
      val bc = new MsbReader(bytes, i + 4, bytes.length, headerBitsEnd)
      bc.read(1) // frame type
      bc.read(5) // deficit sample count
      bc.read(1) // crc present
      val nblks = bc.read(7)
      val fsize = bc.read(14)
      val amode = bc.read(6)
      val sfreq = bc.read(4)
      require(fsize >= 95, s"bad DTS frame size ${fsize + 1}")
      (nblks, fsize + 1, amode, sfreq)
    }
    val (_, _, amode0, sfreq0) = header(0)
    require(amode0 < DtsChannels.length, s"DTS amode $amode0 (user-defined) unsupported")
    val rate = DtsRates.getOrElse(sfreq0,
      throw new IllegalArgumentException(s"bad DTS sample rate code $sfreq0"))
    var i = 0
    var samples = 0L
    while (i + 10 <= bytes.length) {
      require((bytes(i) & 0xff) == 0x7f && (bytes(i + 1) & 0xff) == 0xfe &&
        (bytes(i + 2) & 0xff) == 0x80 && (bytes(i + 3) & 0xff) == 0x01,
        s"DTS frame sync lost at $i")
      val (nblks, len, _, _) = header(i)
      require(i + len <= bytes.length, s"DTS frame at $i overruns payload")
      samples += (nblks + 1) * 32L
      i += len
    }
    AudioHeaderMeta("audio/vnd.dts", DtsChannels(amode0), rate, samples * 1000L / rate)
  }

  // ---- MLP / Dolby TrueHD (major-sync access units) ----
  /** Major sync 0xF8726FBB (MLP) / 0xF8726FBA (TrueHD) at offset 4 of the
    * first access unit; the sync is gated on a plausible AU length so an
    * interior 4-byte match inside an opaque payload cannot claim it. */
  def isMlpFamily(b: Array[Byte]): Boolean = {
    if (b.length < 12 || (b(4) & 0xff) != 0xf8 || (b(5) & 0xff) != 0x72 ||
        (b(6) & 0xff) != 0x6f ||
        ((b(7) & 0xff) != 0xbb && (b(7) & 0xff) != 0xba)) return false
    val words = ((b(0) & 0x0f) << 8) | (b(1) & 0xff)
    words * 2 >= 12 && words * 2 <= b.length
  }

  /** MLP/TrueHD: access-unit walk (12-bit length in 16-bit words) with the
    * major sync's sampling-frequency nibble (44.1k/48k family << shift) —
    * at byte 8 for TrueHD, byte 9 for MLP (whose format_info leads with
    * the quantization word lengths). An access unit spans 40<<shift
    * samples. Channel layout is NOT parsed (the presentation
    * channel-assignment map is out of scope) — reported as 0, never
    * guessed. */
  def parseMlp(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isMlpFamily(bytes), "not an MLP/TrueHD payload")
    val trueHd = (bytes(7) & 0xff) == 0xba
    val nib = ((if (trueHd) bytes(8) else bytes(9)) >> 4) & 0xf
    val shift = nib & 7
    require(shift <= 2, s"bad MLP sampling-frequency shift $shift")
    val rate = (if ((nib & 8) != 0) 44100 else 48000) << shift
    var i = 0
    var aus = 0L
    while (i + 2 <= bytes.length) {
      val words = ((bytes(i) & 0x0f) << 8) | (bytes(i + 1) & 0xff)
      val len = words * 2
      require(len >= 8 && i + len <= bytes.length, s"MLP access unit at $i overruns payload")
      aus += 1
      i += len
    }
    val samples = aus * (40L << shift)
    AudioHeaderMeta(if (trueHd) "audio/truehd" else "audio/mlp", 0, rate,
      samples * 1000L / rate)
  }

  // ---- ASF (.wma) — GUID-keyed object walk ----
  private def guid(hex: String): Array[Byte] =
    hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  private val AsfHeaderGuid = guid("3026B2758E66CF11A6D900AA0062CE6C")
  private val AsfFilePropsGuid = guid("A1DCAB8C47A9CF118EE400C00C205365")
  private val AsfStreamPropsGuid = guid("9107DCB7B7A9CF118EE600C00C205365")
  private val AsfAudioMediaGuid = guid("409E69F84D5BCF11A8FD00805F5C442B")

  private def guidAt(b: Array[Byte], i: Int, g: Array[Byte]): Boolean =
    i + 16 <= b.length && g.indices.forall(k => b(i + k) == g(k))

  def isAsf(b: Array[Byte]): Boolean =
    b.length >= 30 && guidAt(b, 0, AsfHeaderGuid)

  /** ASF header objects: File Properties (play duration in 100 ns units
    * minus the preroll buffer, the mutagen .info.length formula) and the
    * first AUDIO Stream Properties' WAVEFORMATEX (channels, rate). A
    * container with no audio stream reports video/x-ms-asf with zeroed
    * audio parameters. */
  def parseAsf(bytes: Array[Byte]): AudioHeaderMeta = {
    require(isAsf(bytes), "not an ASF payload")
    val in = ByteCursor(bytes)
    val headerSize = in.u64le(16)
    require(headerSize >= 30 && headerSize <= bytes.length,
      "ASF header object overruns payload")
    var durationMs = 0L
    var channels = 0; var rate = 0
    var i = 30L
    while (i + 24 <= headerSize) {
      val at = i.toInt
      val size = in.u64le(at + 16)
      require(size >= 24 && i + size <= headerSize, s"ASF sub-object at $at overruns header")
      if (guidAt(bytes, at, AsfFilePropsGuid)) {
        require(size >= 96, "ASF File Properties object truncated")
        val play100ns = in.u64le(at + 64)
        val prerollMs = in.u64le(at + 80)
        durationMs = play100ns / 10000L - prerollMs
        require(durationMs >= 0, "negative ASF play duration")
      } else if (guidAt(bytes, at, AsfStreamPropsGuid) && channels == 0 &&
                 guidAt(bytes, at + 24, AsfAudioMediaGuid)) {
        require(size >= 24 + 54 + 8, "ASF audio Stream Properties truncated")
        channels = in.u16le(at + 24 + 56)
        rate = in.i32le(at + 24 + 58)
        require(channels >= 1 && channels <= 64 && rate > 0 && rate <= 768000,
          "bad ASF WAVEFORMATEX audio parameters")
      }
      i += size
    }
    if (channels > 0) AudioHeaderMeta("audio/x-ms-wma", channels, rate, durationMs)
    else AudioHeaderMeta("video/x-ms-asf", 0, 0, durationMs)
  }

  // ---- Matroska / WebM (EBML) ----
  def isEbml(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
      (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3

  final case class MatroskaMeta(docType: String, durationMs: Long,
                                audioChannels: Int, audioRate: Int,
                                videoWidth: Int, videoHeight: Int) {
    def hasVideo: Boolean = videoWidth > 0
  }

  /** EBML walk (the Matroska/WebM container grammar): variable-length
    * element IDs (marker bit kept) and sizes (marker stripped; all-ones =
    * unknown, legal only for Segment → runs to payload end). Reads DocType,
    * Info TimecodeScale/Duration, and the first audio/video TrackEntry's
    * parameters. Cluster/frame data is never touched. */
  def parseMatroska(bytes: Array[Byte]): MatroskaMeta = {
    require(isEbml(bytes), "not an EBML payload")
    def vlen(first: Int): Int = {
      var mask = 0x80; var n = 1
      while (n <= 8 && (first & mask) == 0) { mask >>= 1; n += 1 }
      require(n <= 8, "bad EBML varint lead byte 0x00")
      n
    }
    def readId(i: Int): (Long, Int) = {
      require(i < bytes.length, "EBML id read past end")
      val n = vlen(bytes(i) & 0xff)
      require(i + n <= bytes.length, "EBML id truncated")
      var v = 0L
      for (k <- 0 until n) v = (v << 8) | (bytes(i + k) & 0xffL)
      (v, n)
    }
    def readSize(i: Int): (Long, Int) = {
      require(i < bytes.length, "EBML size read past end")
      val first = bytes(i) & 0xff
      val n = vlen(first)
      require(i + n <= bytes.length, "EBML size truncated")
      var v = (first & (0xff >> n)).toLong
      for (k <- 1 until n) v = (v << 8) | (bytes(i + k) & 0xffL)
      // all value bits set = unknown size
      val unknown = v == (1L << (7 * n)) - 1
      (if (unknown) -1L else v, n)
    }
    def uintAt(i: Int, len: Int): Long = {
      require(len >= 1 && len <= 8 && i + len <= bytes.length, "EBML uint truncated")
      var v = 0L
      for (k <- 0 until len) v = (v << 8) | (bytes(i + k) & 0xffL)
      v
    }
    def floatAt(i: Int, len: Int): Double = len match {
      case 4 => java.lang.Float.intBitsToFloat(ByteCursor(bytes).i32be(i)).toDouble
      case 8 => java.lang.Double.longBitsToDouble(ByteCursor(bytes).u64be(i))
      case n => throw new IllegalArgumentException(s"EBML float of width $n")
    }
    var docType = "matroska" // the EBML default when DocType is absent
    var timecodeScale = 1000000L // ns, the Matroska default
    var durationUnits = 0.0
    var audioChannels = 0; var audioRate = 0
    var videoW = 0; var videoH = 0
    var inAudioTrack = false; var inVideoTrack = false
    def walk(from: Int, until: Int, depth: Int): Unit = {
      require(depth < 16, "EBML nesting too deep")
      var i = from
      while (i < until) {
        val (id, idLen) = readId(i)
        val (sz, szLen) = readSize(i + idLen)
        val bodyAt = i + idLen + szLen
        val bodyEnd = if (sz == -1L) {
          // unknown size is legal for Segment (walk inside it) and for
          // streamed Clusters (metadata precedes them — stop the walk
          // there); anywhere else it is a named error
          require(id == 0x18538067L || id == 0x1f43b675L,
            "unknown EBML size outside Segment/Cluster")
          until
        } else {
          require(sz <= until - bodyAt, s"EBML element 0x${id.toHexString} overruns enclosure")
          bodyAt + sz.toInt
        }
        id match {
          case 0x1f43b675L => () // Cluster: frame data, never descended
          case 0x1a45dfa3L | 0x18538067L | 0x1549a966L | 0x1654ae6bL =>
            walk(bodyAt, bodyEnd, depth + 1) // EBML hdr / Segment / Info / Tracks
          case 0xaeL =>
            // TrackEntry: Matroska does not mandate child order, so find
            // TrackType FIRST (a pre-scan of direct children), then walk
            inAudioTrack = false; inVideoTrack = false
            var j = bodyAt
            while (j < bodyEnd) {
              val (cid, cIdLen) = readId(j)
              val (csz, cSzLen) = readSize(j + cIdLen)
              require(csz >= 0 && csz <= bodyEnd - (j + cIdLen + cSzLen),
                "EBML TrackEntry child overruns enclosure")
              if (cid == 0x83L) {
                val t = uintAt(j + cIdLen + cSzLen, csz.toInt)
                inAudioTrack = t == 2; inVideoTrack = t == 1
              }
              j += cIdLen + cSzLen + csz.toInt
            }
            walk(bodyAt, bodyEnd, depth + 1)
          case 0x83L => () // TrackType: consumed by the TrackEntry pre-scan
          case 0xe1L if inAudioTrack && audioChannels == 0 =>
            // Audio element: defaults per spec, overridden by children
            audioChannels = 1; audioRate = 8000
            walk(bodyAt, bodyEnd, depth + 1)
          case 0xe0L if inVideoTrack && videoW == 0 =>
            walk(bodyAt, bodyEnd, depth + 1)
          case 0x4282L => // DocType
            docType = new String(bytes, bodyAt, bodyEnd - bodyAt,
              java.nio.charset.StandardCharsets.ISO_8859_1)
          case 0x2ad7b1L => timecodeScale = uintAt(bodyAt, bodyEnd - bodyAt)
          case 0x4489L => durationUnits = floatAt(bodyAt, bodyEnd - bodyAt)
          case 0xb5L if inAudioTrack =>
            val r = floatAt(bodyAt, bodyEnd - bodyAt)
            require(r > 0 && r <= 768000 && r == math.rint(r),
              s"bad Matroska sampling frequency $r")
            audioRate = r.toInt
          case 0x9fL if inAudioTrack =>
            audioChannels = uintAt(bodyAt, bodyEnd - bodyAt).toInt
          case 0xb0L if inVideoTrack => videoW = uintAt(bodyAt, bodyEnd - bodyAt).toInt
          case 0xbaL if inVideoTrack => videoH = uintAt(bodyAt, bodyEnd - bodyAt).toInt
          case _ => () // skip leaves we don't need (CRC, Void, Cluster, ...)
        }
        i = bodyEnd
      }
    }
    walk(0, bytes.length, 0)
    val durationMs = math.rint(durationUnits * timecodeScale / 1e6).toLong
    MatroskaMeta(docType, durationMs, audioChannels, audioRate, videoW, videoH)
  }

  /** Single source of truth for the docType × hasVideo mime choice (used
    * by [[audioHeader]] and [[Multimodal.decodeFeatures]]). */
  def matroskaMime(m: MatroskaMeta): String = {
    val webm = m.docType == "webm"
    if (m.hasVideo) (if (webm) "video/webm" else "video/x-matroska")
    else (if (webm) "audio/webm" else "audio/x-matroska")
  }

  // ---- AVI (RIFF) container + MJPEG frame decode ----

  /** AVI clip metadata with REAL per-frame pixel decode: `pixelSum` totals
    * [[JpegCodec.decode]] over every video frame chunk, so it is only right
    * if the RIFF walk, chunk alignment, and the whole JPEG pipeline are. */
  final case class AviMeta(width: Int, height: Int, frames: Int,
                           durationMs: Long, pixelSum: Long)

  def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** The codec fourcc of the first `vids` stream: `strf` BITMAPINFOHEADER
    * biCompression, falling back to the `strh` handler when strf is absent;
    * null when the hdrl declares no video stream. */
  private final case class AviHeader(width: Int, height: Int,
                                     usecPerFrame: Int, videoFourcc: String)

  private def walkAvi(bytes: Array[Byte])(
      onChunk: (String, Int, Int) => Unit): Unit = {
    val in = ByteCursor(bytes)
    def walk(start: Long, end: Long, depth: Int): Unit = {
      require(depth <= 4, "AVI LIST nesting too deep")
      var i = start
      while (i + 8 <= end) {
        val at = i.toInt
        val id = new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = in.i32le(at + 4)
        require(size >= 0, s"negative RIFF chunk size $size")
        require(i + 8 + size.toLong <= end, s"AVI chunk '$id' overruns container")
        if (id == "LIST") {
          require(size >= 4, "AVI LIST too small for a subtype")
          val sub = new String(bytes, at + 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
          // hdrl (headers), strl (one stream's strh/strf), movi (frame
          // data), rec (interleave group) all contain chunks we care about
          if (sub == "hdrl" || sub == "strl" || sub == "movi" || sub == "rec ")
            walk(i + 12, i + 8 + size, depth + 1)
        } else onChunk(id, at + 8, size)
        i += 8L + size + (size & 1) // RIFF chunks are 2-byte aligned
      }
    }
    val total = in.i32le(4)
    require(total >= 4 && 8L + total <= bytes.length, "RIFF size overruns payload")
    walk(12L, 8L + total, 0)
  }

  private def fourcc(bytes: Array[Byte], at: Int): String =
    new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** hdrl-level parse only: avih geometry/clock + the video stream's codec
    * fourcc (no frame data touched). */
  private def parseAviHeader(bytes: Array[Byte]): AviHeader = {
    require(isAvi(bytes), "not a RIFF/AVI payload")
    var usecPerFrame = 0
    var width = 0
    var height = 0
    var inVideoStream = false
    var videoFourcc: String = null
    val in = ByteCursor(bytes)
    walkAvi(bytes) { (id, body, size) =>
      id match {
        case "avih" =>
          require(size >= 40, s"avih chunk of $size bytes is too small")
          usecPerFrame = in.i32le(body)
          width = in.i32le(body + 32)
          height = in.i32le(body + 36)
          require(usecPerFrame > 0, s"bad AVI frame clock $usecPerFrame us")
          require(width > 0 && height > 0, s"bad AVI canvas ${width}x$height")
        case "strh" if size >= 8 =>
          inVideoStream = fourcc(bytes, body) == "vids"
          if (inVideoStream && videoFourcc == null)
            videoFourcc = fourcc(bytes, body + 4)
        case "strf" if inVideoStream && size >= 20 =>
          // BITMAPINFOHEADER biCompression is authoritative over the
          // strh handler (encoders routinely leave the handler blank)
          videoFourcc = fourcc(bytes, body + 16)
          inVideoStream = false
        case _ => ()
      }
    }
    require(width > 0, "AVI has no avih header")
    AviHeader(width, height, usecPerFrame, videoFourcc)
  }

  /** True only for an AVI whose video stream declares the MJPG codec — the
    * one AVI family with a real sample decoder here. Other codecs (Xvid,
    * H.264, DIB, ...) stay UNCLAIMED so the dispatcher's marked-stub
    * contract holds; corrupt containers also stay unclaimed (the claim
    * probe never throws). */
  def isMjpegAvi(b: Array[Byte]): Boolean =
    isAvi(b) && (try {
      val f = parseAviHeader(b).videoFourcc
      f == "MJPG" || f == "mjpg"
    } catch { case _: IllegalArgumentException => false })

  /** RIFF/AVI walk: `avih` gives geometry + frame clock, the `vids` stream
    * must declare MJPG, and every `##dc`/`##db` chunk in the `movi` LIST
    * (including one `rec ` nesting level) is a complete MJPEG frame,
    * decoded for real through [[JpegCodec]]. Frame dimensions must match
    * the avih canvas — a mismatch is a named parse failure, never silently
    * absorbed. Total decoded pixels share the 16M raster bomb cap with the
    * still-image decoders. */
  def parseAvi(bytes: Array[Byte]): AviMeta = {
    val hdr = parseAviHeader(bytes)
    require(hdr.videoFourcc == "MJPG" || hdr.videoFourcc == "mjpg",
      s"AVI video codec '${hdr.videoFourcc}' is not MJPEG")
    val width = hdr.width
    val height = hdr.height
    var frames = 0
    var pixelSum = 0L
    var decodedPixels = 0L
    def isFrameChunk(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("dc") || id.endsWith("db"))
    walkAvi(bytes) { (id, body, size) =>
      if (isFrameChunk(id) && size > 0) {
        decodedPixels += width.toLong * height
        require(decodedPixels <= (16L << 20),
          s"AVI decode of $decodedPixels pixels exceeds the 16M-pixel cap")
        val frame = java.util.Arrays.copyOfRange(bytes, body, body + size)
        require(JpegCodec.isJpeg(frame), s"AVI '$id' frame is not MJPEG")
        val img = JpegCodec.decode(frame)
        require(img.width == width && img.height == height,
          s"AVI frame ${img.width}x${img.height} != canvas ${width}x$height")
        frames += 1
        pixelSum += img.pixelSum
      }
    }
    AviMeta(width, height, frames, frames.toLong * hdr.usecPerFrame / 1000L, pixelSum)
  }

  // ---- Ogg granule scan (duration for Opus/Vorbis streams) ----
  /** Last non-(-1) granule position across the page sequence — sample
    * count at the stream's nominal clock (48 kHz for Opus, the audio rate
    * for Vorbis). 0 when no page carries a granule. */
  def lastOggGranule(bytes: Array[Byte]): Long = {
    val in = ByteCursor(bytes)
    var i = 0
    var last = 0L
    while (i + 27 <= bytes.length) {
      require(bytes(i) == 'O' && bytes(i + 1) == 'g' && bytes(i + 2) == 'g' &&
        bytes(i + 3) == 'S', s"Ogg page capture pattern missing at $i")
      val g = in.u64le(i + 6)
      if (g != -1L) last = g // keep the LAST granule (continuation pages carry -1)
      val nsegs = bytes(i + 26) & 0xff
      require(i + 27 + nsegs <= bytes.length, "Ogg segment table truncated")
      var dataLen = 0
      var k = 0
      while (k < nsegs) { dataLen += bytes(i + 27 + k) & 0xff; k += 1 }
      require(i + 27 + nsegs + dataLen <= bytes.length, "Ogg page data truncated")
      i += 27 + nsegs + dataLen
    }
    last
  }

  /** First packet of the first Ogg page (enough to dispatch Opus vs
    * Vorbis: the identification header is always packet 1 on page 1). */
  private def firstOggPacket(bytes: Array[Byte]): Array[Byte] = {
    require(isOgg(bytes), "not an Ogg payload")
    val nsegs = bytes(26) & 0xff
    require(27 + nsegs <= bytes.length, "Ogg segment table truncated")
    val out = new java.io.ByteArrayOutputStream()
    var p = 27 + nsegs
    var s = 0
    var done = false
    while (s < nsegs && !done) {
      val lace = bytes(27 + s) & 0xff
      require(p + lace <= bytes.length, "Ogg page data truncated")
      out.write(bytes, p, lace)
      p += lace
      if (lace < 255) done = true
      s += 1
    }
    out.toByteArray
  }

  /** Ogg audio dispatch: OpusHead identification (channels, pre-skip,
    * 48 kHz granule clock) or the Vorbis identification header (via
    * [[parseOggVorbis]]); duration from the last page granule. */
  def parseOggAudio(bytes: Array[Byte]): AudioHeaderMeta = {
    val p1 = firstOggPacket(bytes)
    if (p1.length >= 19 && new String(p1, 0, 8,
        java.nio.charset.StandardCharsets.ISO_8859_1) == "OpusHead") {
      require((p1(8) & 0xf0) == 0, s"Opus version ${p1(8)} unsupported")
      val channels = p1(9) & 0xff
      require(channels >= 1, "bad Opus channel count")
      val preSkip = ByteCursor(p1).u16le(10)
      val granule = lastOggGranule(bytes)
      val samples = math.max(0L, granule - preSkip)
      AudioHeaderMeta("audio/opus", channels, 48000, samples * 1000L / 48000)
    } else {
      val v = parseOggVorbis(bytes)
      AudioHeaderMeta("audio/ogg", v.channels, v.sampleRate,
        lastOggGranule(bytes) * 1000L / v.sampleRate)
    }
  }

  /** Header-level audio metadata for the REST of the reference's pydub/
    * mutagen input whitelist (audio_converters.py:40-44) — the audio
    * analog of [[imageHeader]]. Magic-gated real parses; `.raw` (headerless
    * PCM) is unclaimable by design. A claimed-but-corrupt payload fails
    * NAMED (containment turns it into an error row, never a stub row). */
  def audioHeader(bytes: Array[Byte]): Option[AudioHeaderMeta] =
    if (isAu(bytes)) {
      val m = parseAu(bytes)
      Some(AudioHeaderMeta("audio/basic", m.channels, m.rate, m.durationMs))
    } else if (isCaf(bytes)) {
      val m = parseCaf(bytes)
      Some(AudioHeaderMeta("audio/x-caf", m.channels, m.rate, m.durationMs))
    } else if (isTta(bytes)) Some(parseTta(bytes))
    else if (isApe(bytes)) Some(parseApe(bytes))
    else if (isWavpack(bytes)) Some(parseWavpack(bytes))
    else if (isAdts(bytes)) Some(parseAdts(bytes))
    else if (isMpegAudio(bytes)) Some(parseMpegAudio(bytes))
    else if (isAc3Sync(bytes)) Some(parseAc3(bytes))
    else if (isDts(bytes)) Some(parseDts(bytes))
    else if (isMlpFamily(bytes)) Some(parseMlp(bytes))
    else if (isAsf(bytes)) Some(parseAsf(bytes))
    else if (isEbml(bytes)) {
      val m = parseMatroska(bytes)
      Some(AudioHeaderMeta(matroskaMime(m), m.audioChannels, m.audioRate,
        m.durationMs))
    } else if (isOgg(bytes)) Some(parseOggAudio(bytes))
    else None
}
