package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.cfb.CfbSniffer
import graft.extract.ooxml.OdfExtractor
import graft.fixtures.{JpegWriter, MediaFixtures}
import graft.serialize.{CfbWriter, EpubWriter, OdfWriter}
import graft.functions.DocFunctions
import graft.multimodal.MediaCodecs

/** Round-3 dispatch + media coverage: legacy CFB containment, flat-ODF,
  * EPUB OPF spine, real BMP/PPM/WAV codecs, content-refined mime, langid
  * fixture marking. */
class DispatchMediaSpec extends AnyFunSuite {

  private val paras = Vector(
    "alpha bravo charlie delta echo foxtrot",
    "golf hotel india juliet kilo",
    "lima mike november oscar papa quebec romeo sierra")

  private def page(bytes: Array[Byte]) =
    graft.model.WebPage("u", new java.sql.Timestamp(0), bytes, "", "en")

  // ---- legacy CFB: explicit failure rows, refined kind ----------------------

  test("hollow cfb containers sniff to their legacy kind and FAIL contained") {
    // marker-stream-only containers (no parseable document structure):
    // classification succeeds, the kernel rejects, the row is a failure —
    // never a mojibake success
    for (kind <- Seq("doc", "xls", "ppt")) {
      val bytes = CfbWriter.generate(kind)
      assert(CfbSniffer.isCfb(bytes))
      assert(Extractor.sniffFormat(bytes) == kind, s"sniff $kind")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(!r.success && r.format_from == kind && r.error.nonEmpty, s"$kind: $r")
      assert(Extractor.extractTextOrEmpty(bytes) == "")
    }
    val bare = CfbWriter.generate("unknown")
    assert(Extractor.sniffFormat(bare) == "cfb")
    val r = Extractor.extractOne(page(bare), 0)
    assert(!r.success && r.format_from == "cfb")
  }

  test("publisher containers (Quill storage) refine to pub and FAIL contained") {
    val bytes = CfbWriter.generate("pub")
    assert(Extractor.sniffFormat(bytes) == "pub")
    val r = Extractor.extractOne(page(bytes), 0)
    assert(!r.success && r.format_from == "pub" && r.error.contains("Quill"), s"$r")
    assert(DocFunctions.mimeGuessBytes(bytes) == "application/x-mspublisher")
  }

  test("cfb magic without the full signature is NOT classified cfb") {
    // first 4 bytes of the magic only — falls through to the txt/html scan
    val part = Array(0xd0, 0xcf, 0x11, 0xe0, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
    assert(!CfbSniffer.isCfb(part))
  }

  // ---- flat ODF -------------------------------------------------------------

  test("flat-ODF round-trips every kind x variant with refined fodX kind") {
    for (kind <- Seq("odt", "odp", "ods"); v <- 0 to 2) {
      val bytes = OdfWriter.generateFlat(kind, paras, v)
      assert(Extractor.sniffFormat(bytes) == "fodf", s"$kind v$v sniff")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(r.success && r.format_from == "f" + kind, s"$kind v$v: $r")
      assert(r.text == OdfWriter.expectedText(kind, paras, v), s"$kind v$v text")
    }
  }

  test("flat-ODF variant 2 (no office:mimetype attr) classifies via body element") {
    val bytes = OdfWriter.generateFlat("ods", paras, 2)
    assert(!new String(bytes, "UTF-8").contains("office:mimetype"))
    assert(OdfExtractor.extractFlat(bytes)._1 == "fods")
  }

  test("flat-ODF sniff does not shadow html or packaged content.xml grammar") {
    assert(Extractor.sniffFormat("<!DOCTYPE html><html><body>x</body></html>".getBytes) == "html")
    // a raw office:document-content payload (not a flat doc) stays html-ish
    assert(Extractor.sniffFormat("<office:document-content x=\"1\">".getBytes) == "html")
  }

  // ---- EPUB OPF spine -------------------------------------------------------

  test("epub spine order wins over filename order (publisher-named variant)") {
    val bytes = EpubWriter.generate(paras, 4)
    val spine = graft.extract.epub.EpubExtractor.spinePaths(graft.util.ZipReader(bytes)).get
    assert(spine.length == paras.length)
    assert(spine.forall(_.startsWith("OEBPS/text/sec")), spine.toString)
    // filenames are numbered descending: lexicographic order would reverse
    assert(spine != spine.sorted, s"spine must not equal sorted names: $spine")
    val r = Extractor.extractOne(page(bytes), 0)
    assert(r.success && r.format_from == "epub")
    assert(r.text == paras.mkString("\n"), r.text)
  }

  test("epub without container.xml falls back to the chapterN convention") {
    val full = EpubWriter.generate(paras, 0)
    // rebuild the archive minus META-INF/container.xml
    val zip = graft.util.ZipReader(full)
    val names = zip.names.toSet
    val parts = zip.names.filter(n => n != "META-INF/container.xml").map(n => n -> zip.read(n).get).toSeq
    val rebuilt = graft.serialize.OoxmlZip.write(
      parts.map { case (n, b) => n -> new String(b, "UTF-8") }, store = false)
    assert(names.contains("META-INF/container.xml"))
    val r = Extractor.extractOne(page(rebuilt), 0)
    assert(r.success && r.text == paras.mkString("\n"), r.text)
  }

  // ---- real media codecs ----------------------------------------------------

  private def rowSum(h: Int, seed: Int): Long =
    (0 until h).map(y => (seed + y) % 256).sum.toLong

  test("gzip transport wrapper: inflate + re-dispatch, nested/bomb refused") {
    import graft.extract.Extractor
    def gz(b: Array[Byte]): Array[Byte] = graft.fixtures.Corpus.gzipBytes(b)
    val html = "<html><body><article><p>Real content here.</p></article></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val direct = Extractor.extractByFormat("html", html)
    val wrapped = Extractor.extractByFormat("gz", gz(html))
    assert(Extractor.sniffFormat(gz(html)) == "gz")
    assert(wrapped == direct, s"$wrapped vs $direct") // kind refined to inner
    // nested gzip: refused (decompression-loop guard), not recursed
    val e = intercept[IllegalArgumentException](
      Extractor.extractByFormat("gz", gz(gz(html))))
    assert(e.getMessage.contains("nested gzip"), e.getMessage)
    // decompression bomb: 70 MB of zeros compresses to ~70 KB; the inflate
    // must stop at the payload cap, not materialize the expansion
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    val chunk = new Array[Byte](1 << 16)
    for (_ <- 0 until (70 * 16)) g.write(chunk)
    g.close()
    val e2 = intercept[IllegalArgumentException](
      Extractor.extractByFormat("gz", bos.toByteArray))
    assert(e2.getMessage.contains("expands past cap"), e2.getMessage)
  }

  test("bmp decode: geometry, mode, and pixel sum across bpp and row order") {
    for ((bpp, mode, ch) <- Seq((8, "P", 1), (24, "RGB", 3), (32, "RGBA", 4));
         topDown <- Seq(false, true)) {
      val (w, h, seed) = (7, 5, 190) // w=7: 24bpp stride padding in play
      val meta = MediaCodecs.decodeBmp(MediaFixtures.bmp(w, h, bpp, seed, topDown))
      assert(meta.width == w && meta.height == h && meta.mode == mode,
        s"bpp=$bpp topDown=$topDown: $meta")
      assert(meta.pixelSum == ch.toLong * w * rowSum(h, seed),
        s"bpp=$bpp topDown=$topDown sum: $meta")
    }
  }

  test("bmp RLE8 decodes to the same index sum as uncompressed 8-bpp") {
    // width > 255 crosses the run-length cap; odd width pads absolute runs
    for ((w, h, seed) <- Seq((300, 5, 9), (7, 4, 100), (2, 3, 50))) {
      val plain = MediaCodecs.decodeBmp(MediaFixtures.bmp(w, h, 8, seed))
      val rle = MediaCodecs.decodeBmp(MediaFixtures.bmpRle8(w, h, seed))
      assert(rle == plain, s"${(w, h)}: $rle vs $plain")
    }
  }

  test("bmp RLE8 delta escape skips pixels as index 0 within bounds") {
    // 4x3 stream: run(2,7), delta(+2,+1), EOL, run(4,9), EOL, EOB
    // painted: 2 pixels of 7 and 4 of 9; everything skipped counts 0
    val base = MediaFixtures.bmpRle8(4, 3, 0)
    val dataOffset = 14 + 40 + 256 * 4
    val stream = Array[Byte](2, 7, 0, 2, 2, 1, 0, 0, 4, 9, 0, 0, 0, 1)
    val crafted = base.take(dataOffset) ++ stream
    val meta = MediaCodecs.decodeBmp(crafted)
    assert(meta == graft.multimodal.MediaCodecs.ImageMeta("bmp", 4, 3, "P", 2 * 7 + 4 * 9), meta)
    // out-of-bounds delta must be a named error
    val bad = base.take(dataOffset) ++ Array[Byte](0, 2, 5, 0, 0, 1)
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeBmp(bad))
    assert(e.getMessage.contains("delta"), e.getMessage)
  }

  test("bmp with a negative or huge pixel-data offset fails named, not AIOOBE") {
    for (off <- Seq(-8, Int.MaxValue - 1)) {
      val bad = MediaFixtures.bmpRle8(4, 3, 10).clone()
      val b = java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(10, off)
      val e = intercept[IllegalArgumentException](MediaCodecs.decodeBmp(bad))
      assert(e.getMessage.contains("offset"), e.getMessage)
    }
  }

  test("pnm mimes distinguish P5 graymaps from P6 pixmaps") {
    import graft.multimodal.Multimodal.sniffMedia
    assert(sniffMedia(MediaFixtures.ppm(4, 3, 9)) == "image/x-portable-pixmap")
    assert(sniffMedia(MediaFixtures.ppm(4, 3, 9, gray = true)) == "image/x-portable-graymap")
  }

  test("bmp RLE8 run crossing a row boundary is rejected") {
    val good = MediaFixtures.bmpRle8(4, 3, 10)
    val dataOffset = 14 + 40 + 256 * 4
    val bad = good.clone(); bad(dataOffset) = 5 // first run: 5 pixels on a 4-wide row
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeBmp(bad))
    assert(e.getMessage.contains("row boundary"), e.getMessage)
  }

  test("pgm (P5) decodes as mode L with a single-channel sum") {
    val meta = MediaCodecs.decodePpm(MediaFixtures.ppm(6, 4, 40, gray = true))
    assert(meta.width == 6 && meta.height == 4 && meta.mode == "L")
    assert(meta.pixelSum == 6L * (4 * 40 + 0 + 1 + 2 + 3))
  }

  test("wav 8-bit PCM samples decode with the unsigned-128 bias") {
    val bytes = MediaFixtures.wav(channels = 2, sampleRate = 8000, frames = 50,
      seed = 3, bits = 8)
    val m = MediaCodecs.parseWav(bytes)
    assert(m.bitsPerSample == 8 && m.dataBytes == 100L)
    val n = 100L // samples (seed + f) % 256 for f < 100: no wrap at seed 3
    assert(MediaCodecs.wavSampleSum(bytes) == n * (3 - 128) + n * (n - 1) / 2)
  }

  test("ppm decode handles comments and reports RGB sums") {
    val meta = MediaCodecs.decodePpm(MediaFixtures.ppm(6, 4, 250)) // seed+h near wrap
    assert(meta.width == 6 && meta.height == 4 && meta.mode == "RGB")
    assert(meta.pixelSum == 3L * 6 * rowSum(4, 250))
  }

  test("png decode: all five scanline filters reconstruct across color types") {
    for ((ct, mode, ch) <- Seq((0, "L", 1), (2, "RGB", 3), (3, "P", 1), (6, "RGBA", 4))) {
      val (w, h, seed) = (6, 7, 180) // h=7: every filter type 0..4 appears
      val meta = MediaCodecs.decodePng(MediaFixtures.png(w, h, ct, seed))
      assert(meta.width == w && meta.height == h && meta.mode == mode,
        s"colorType=$ct: $meta")
      assert(meta.pixelSum == ch.toLong * w * rowSum(h, seed),
        s"colorType=$ct sum: $meta")
    }
  }

  test("png gray+alpha (color type 4) decodes as LA with a 2-channel sum") {
    import graft.multimodal.MediaCodecs
    val m = MediaCodecs.decodePng(MediaFixtures.png(7, 5, 4, 60))
    assert(m.mode == "LA" && m.width == 7 && m.height == 5)
    assert(m.pixelSum == 2L * 7 * (5 * 60 + 5 * 4 / 2))
    val a7 = MediaCodecs.decodePng(MediaFixtures.png(7, 5, 4, 60, adam7 = true))
    assert(a7 == m)
  }

  test("png Adam7 interlace: 7 filtered passes decode to the plain sum") {
    // dims exercise empty passes (w or h < pass origin) and ragged strides
    for ((w, h) <- Seq((16, 16), (7, 3), (1, 1), (9, 20), (2, 2));
         colorType <- Seq(0, 2, 6)) {
      val plain = MediaCodecs.decodePng(MediaFixtures.png(w, h, colorType, 77))
      val inter = MediaCodecs.decodePng(MediaFixtures.png(w, h, colorType, 77, adam7 = true))
      assert(inter == plain, s"${(w, h, colorType)}: $inter vs $plain")
    }
  }

  test("png decode rejects corrupt chunks instead of emitting wrong pixels") {
    val good = MediaFixtures.png(5, 4, 2, 33)
    // flip a byte inside the first IDAT payload -> CRC must catch it
    val idatAt = { // locate "IDAT" tag
      val tag = "IDAT".getBytes("US-ASCII")
      (8 until good.length - 4).find(i => good.slice(i, i + 4).sameElements(tag)).get
    }
    val corrupt = good.clone(); corrupt(idatAt + 5) = (corrupt(idatAt + 5) ^ 0x40).toByte
    intercept[IllegalArgumentException](MediaCodecs.decodePng(corrupt))
    // truncation (no IEND) must also fail, not return partial sums
    intercept[IllegalArgumentException](
      MediaCodecs.decodePng(java.util.Arrays.copyOfRange(good, 0, good.length - 16)))
  }

  test("png decompression bomb: huge declared geometry rejected before allocation") {
    val good = MediaFixtures.png(5, 4, 6, 33)
    // rewrite IHDR width to 50M (chunk data starts at offset 16), re-CRC
    val bomb = good.clone()
    val w = 50 * 1000 * 1000
    bomb(16) = (w >>> 24).toByte; bomb(17) = (w >>> 16).toByte
    bomb(18) = (w >>> 8).toByte; bomb(19) = w.toByte
    val crc = new java.util.zip.CRC32
    crc.update(bomb, 12, 4 + 13) // tag + IHDR body
    val v = crc.getValue
    bomb(29) = (v >>> 24).toByte; bomb(30) = (v >>> 16).toByte
    bomb(31) = (v >>> 8).toByte; bomb(32) = v.toByte
    val e = intercept[IllegalArgumentException](MediaCodecs.decodePng(bomb))
    assert(e.getMessage.contains("64 MiB"), e.getMessage)
  }

  test("gif decode: real LZW across all code-width boundaries and a clear reset") {
    // small: same closed form as the other palette formats
    val small = MediaCodecs.decodeGif(MediaFixtures.gif(6, 7, 180))
    assert(small.width == 6 && small.height == 7 && small.mode == "P")
    assert(small.pixelSum == 6L * rowSum(7, 180))
    // large: dictionary crosses 512/1024/2048 widths AND the 4096 full-reset
    // (clear code mid-stream) — any off-by-one in width growth breaks the sum
    val big = MediaCodecs.decodeGif(MediaFixtures.gif(200, 400, 7))
    assert(big.width == 200 && big.height == 400 && big.mode == "P")
    assert(big.pixelSum == 200L * rowSum(400, 7))
  }

  test("gif interlaced frame (different LZW stream) decodes to the same sum") {
    for ((w, h, seed) <- Seq((40, 30, 5), (13, 9, 250))) {
      val plain = MediaCodecs.decodeGif(MediaFixtures.gif(w, h, seed))
      val inter = MediaCodecs.decodeGif(MediaFixtures.gif(w, h, seed, interlace = true))
      assert(inter == plain, s"${(w, h)}: $inter vs $plain")
    }
  }

  test("gif animated frames are counted; pixelSum stays first-frame") {
    val single = MediaCodecs.decodeGif(MediaFixtures.gif(9, 7, 20))
    val multi = MediaCodecs.decodeGif(MediaFixtures.gif(9, 7, 20, frames = 3))
    assert(multi.frames == 3 && single.frames == 1)
    assert(multi.pixelSum == single.pixelSum && multi.width == single.width)
    // and the batch kernel surfaces the count as n_frames
    val spark = SparkTestSession.spark
    import spark.implicits._
    val row = graft.multimodal.Multimodal.decodeFeatures(
      Seq(graft.multimodal.Multimodal.MediaRow(1L, "",
        MediaFixtures.gif(9, 7, 20, frames = 3))).toDS()).collect().head
    assert(row.n_frames == 3 && row.error.isEmpty, row)
  }

  test("gif truncated after a complete first frame keeps its pixels (best-effort count)") {
    val full = MediaCodecs.decodeGif(MediaFixtures.gif(9, 7, 20))
    // drop the trailer byte: frame 0 is intact, so decode must succeed
    val noTrailer = MediaFixtures.gif(9, 7, 20).dropRight(1)
    assert(MediaCodecs.decodeGif(noTrailer) == full)
    // cut mid-3rd-frame of an animation: only fully-skippable frames count
    val anim = MediaFixtures.gif(9, 7, 20, frames = 3)
    val cut = java.util.Arrays.copyOf(anim, anim.length - 5)
    val meta = MediaCodecs.decodeGif(cut)
    assert(meta.frames == 2 && meta.pixelSum == full.pixelSum, meta)
  }

  test("gif decode skips 89a extension blocks to reach the image descriptor") {
    val base = MediaFixtures.gif(9, 5, 44)
    val gctEnd = 13 + 256 * 3 // header + LSD + global color table
    val ext = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) // graphic control
    val spliced = base.take(gctEnd) ++ ext ++ base.drop(gctEnd)
    spliced(4) = '9' // GIF89a
    val meta = MediaCodecs.decodeGif(spliced)
    assert(meta.width == 9 && meta.height == 5 && meta.pixelSum == 9L * rowSum(5, 44))
  }

  // per-row value for band-constant jpeg content: row y holds (seed + y/8)%256
  private def jpegSum(w: Int, h: Int, seed: Int): Long =
    (0 until h).map(y => (seed + y / 8) % 256).sum.toLong * w

  test("jpeg decode: DC-only band-constant content round-trips losslessly") {
    // non-multiple-of-8 dims: edge blocks decode padded, sum crops
    for ((w, h, seed) <- Seq((16, 24, 50), (13, 21, 100), (8, 8, 0), (20, 19, 247))) {
      val meta = graft.multimodal.JpegCodec.decode(JpegWriter.generate(w, h, seed))
      assert(meta.width == w && meta.height == h && meta.mode == "L", s"${(w, h, seed)}: $meta")
      // seed 247 wraps (247+2)%256 mid-image: negative DC diff of -255,
      // category 8, one's-complement magnitude bits — all exercised
      assert(meta.pixelSum == jpegSum(w, h, seed), s"${(w, h, seed)}: $meta")
    }
  }

  test("jpeg color (YCbCr 4:4:4): neutral chroma collapses to R=G=B=Y exactly") {
    for ((w, h, seed) <- Seq((16, 16, 30), (11, 18, 190))) {
      val meta = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor(w, h, seed))
      assert(meta.width == w && meta.height == h && meta.mode == "RGB", s"${(w, h)}: $meta")
      assert(meta.pixelSum == 3L * jpegSum(w, h, seed), s"${(w, h)}: $meta")
    }
  }

  test("jpeg 4:2:0: subsampled stream decodes identically to the 4:4:4 one") {
    // dims cross 16-pixel MCU boundaries every way: exact, partial-right,
    // partial-bottom (lower Y block row fully cropped), both
    for ((w, h, seed) <- Seq((32, 32, 30), (17, 18, 190), (24, 9, 77), (33, 31, 5))) {
      val plain = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor(w, h, seed))
      val sub = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor420(w, h, seed))
      assert(sub == plain, s"${(w, h)}: $sub vs $plain")
    }
    // and composed with restart intervals (6-block MCUs, predictor resets)
    val plainR = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor(33, 31, 5))
    val subR = graft.multimodal.JpegCodec.decode(
      JpegWriter.generateColor420(33, 31, 5, restartInterval = 2))
    assert(subR == plainR, s"$subR vs $plainR")
  }

  test("jpeg 4:2:2 and other sampling layouts are explicit errors") {
    val good = JpegWriter.generateColor420(16, 16, 30)
    // SOF0 component 1 sampling byte 0x22 -> 0x21 (4:2:2)
    val sofAt = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val bad = good.clone(); bad(sofAt + 11) = 0x21.toByte
    val e = intercept[IllegalArgumentException](graft.multimodal.JpegCodec.decode(bad))
    assert(e.getMessage.contains("sampling"), e.getMessage)
  }

  test("jpeg restart intervals: RSTn stream decodes identically to plain") {
    // interval 1 maximizes marker traffic; 3 exercises mid-row resets;
    // color triples the blocks per MCU (predictor reset must hit all three)
    for ((w, h, seed, ri) <- Seq((24, 17, 30, 1), (30, 25, 190, 3), (16, 16, 77, 2))) {
      val plain = graft.multimodal.JpegCodec.decode(JpegWriter.generate(w, h, seed))
      val rst = graft.multimodal.JpegCodec.decode(JpegWriter.generate(w, h, seed, ri))
      assert(rst == plain, s"gray ri=$ri: $rst vs $plain")
      val plainC = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor(w, h, seed))
      val rstC = graft.multimodal.JpegCodec.decode(JpegWriter.generateColor(w, h, seed, ri))
      assert(rstC == plainC, s"color ri=$ri: $rstC vs $plainC")
    }
  }

  test("jpeg restart marker out of sequence is rejected, not resynced silently") {
    val good = JpegWriter.generate(24, 17, 30, restartInterval = 1)
    // find the first RST marker (FF D0) in the entropy stream and bump it
    val idx = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xd0).get
    val bad = good.clone(); bad(idx + 1) = 0xd5.toByte
    val e = intercept[IllegalArgumentException](graft.multimodal.JpegCodec.decode(bad))
    assert(e.getMessage.contains("out of sequence"), e.getMessage)
  }

  test("jpeg entropy layer is coefficient-exact: AC runs, ZRL, negatives") {
    import graft.multimodal.JpegCodec
    val b0 = new Array[Int](64)
    b0(0) = -70 // DC
    b0(JpegCodec.ZigZag(1)) = 5 // run 0
    b0(JpegCodec.ZigZag(7)) = -3 // run 5: run/size symbol 0x52
    b0(JpegCodec.ZigZag(30)) = 127 // run 22: ZRL + run 6, category 7
    b0(JpegCodec.ZigZag(63)) = 1 // last coefficient: block ends with NO EOB
    val b1 = new Array[Int](64)
    b1(0) = -70 // DC diff 0 after b0
    b1(JpegCodec.ZigZag(40)) = -1 // 39 zeros: ZRL x2 + run 7
    val parsed = JpegCodec.parse(JpegWriter.fromCoeffs(16, 8, Array(b0, b1)))
    assert(parsed.width == 16 && parsed.height == 8)
    assert(parsed.blocks(0).sameElements(b0), parsed.blocks(0).mkString(","))
    assert(parsed.blocks(1).sameElements(b1), parsed.blocks(1).mkString(","))
    assert(parsed.quant.forall(_ == 8))
  }

  test("jpeg baseline stream mislabeled SOF2 fails named, not wrong pixels") {
    val good = JpegWriter.generate(8, 8, 10)
    // rewrite SOF0 (FFC0) to SOF2 (FFC2): the baseline scan header
    // (Ss=0, Se=63) is illegal in a progressive frame — must be an error,
    // never pixels decoded under the wrong scan model
    val idx = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val prog = good.clone(); prog(idx + 1) = 0xc2.toByte
    val e = intercept[IllegalArgumentException](graft.multimodal.JpegCodec.decode(prog))
    assert(e.getMessage.contains("progressive DC scan"), e.getMessage)
  }

  test("progressive jpeg decodes pixel-identically to baseline (gray + color)") {
    import graft.multimodal.JpegCodec
    // odd dims cross block boundaries; seed 247 wraps a band mid-image
    for ((w, h, seed) <- Seq((16, 24, 50), (13, 21, 100), (8, 8, 0), (20, 19, 247))) {
      val base = JpegCodec.decode(JpegWriter.generate(w, h, seed))
      val prog = JpegCodec.decode(JpegWriter.generateProgressive(w, h, seed))
      assert(prog == base, s"gray ${(w, h, seed)}: $prog vs $base")
    }
    for ((w, h, seed) <- Seq((16, 16, 30), (11, 18, 190), (33, 31, 5))) {
      val base = JpegCodec.decode(JpegWriter.generateColor(w, h, seed))
      val prog = JpegCodec.decode(JpegWriter.generateColorProgressive(w, h, seed))
      assert(prog == base, s"color ${(w, h, seed)}: $prog vs $base")
      val prog420 = JpegCodec.decode(
        JpegWriter.generateColorProgressive(w, h, seed, subsample420 = true))
      assert(prog420 == base, s"420 ${(w, h, seed)}: $prog420 vs $base")
    }
  }

  test("progressive jpeg with restart intervals matches the plain stream") {
    import graft.multimodal.JpegCodec
    for ((w, h, seed, ri) <- Seq((24, 17, 30, 1), (30, 25, 190, 3), (33, 31, 77, 2))) {
      val plain = JpegCodec.decode(JpegWriter.generateProgressive(w, h, seed))
      val rst = JpegCodec.decode(JpegWriter.generateProgressive(w, h, seed, ri))
      assert(rst == plain, s"gray ri=$ri: $rst vs $plain")
      val plainC = JpegCodec.decode(
        JpegWriter.generateColorProgressive(w, h, seed, subsample420 = true))
      val rstC = JpegCodec.decode(
        JpegWriter.generateColorProgressive(w, h, seed, subsample420 = true,
          restartInterval = ri))
      assert(rstC == plainC, s"420 ri=$ri: $rstC vs $plainC")
    }
  }

  test("progressive entropy layers are coefficient-exact across all scan types") {
    import graft.multimodal.JpegCodec
    import graft.fixtures.JpegWriter.ProgressiveScan
    // every annex-G path in one 4-block image: DC successive approximation,
    // AC first-scan magnitudes at Al=1 (|v|=1 stays INVISIBLE until the
    // refinement scan inserts it), refinement correction bits (1 and 0),
    // ZRL in both scan layers, EOB runs spanning blocks, split bands
    val b0 = new Array[Int](64)
    b0(0) = -70
    b0(JpegCodec.ZigZag(1)) = 5    // visible at Al=1 (t=2), correction bit 1
    b0(JpegCodec.ZigZag(3)) = 1    // newly visible only in the refinement
    b0(JpegCodec.ZigZag(7)) = -3   // negative: t=1 first scan, bit 1 refine
    b0(JpegCodec.ZigZag(30)) = 127 // long run: ZRL in the first scan
    b0(JpegCodec.ZigZag(63)) = 1   // new at band END: ZRL x2 in refinement
    val b1 = new Array[Int](64)
    b1(0) = 33                     // AC-empty: EOB-run member in every scan
    val b2 = new Array[Int](64)
    b2(0) = -70
    b2(JpegCodec.ZigZag(2)) = -128 // big negative magnitude (t=64, cat 7)
    b2(JpegCodec.ZigZag(40)) = -1  // new in refine after a long zero run
    val b3 = new Array[Int](64)
    b3(JpegCodec.ZigZag(63)) = 2   // visible (t=1), refinement bit 0
    val blocks = Array(b0, b1, b2, b3)
    val prog = JpegWriter.fromCoeffsProgressive(32, 8, blocks, 1, Seq(
      ProgressiveScan(Seq(0), 0, 0, 0, 1),
      ProgressiveScan(Seq(0), 1, 5, 0, 1),
      ProgressiveScan(Seq(0), 6, 63, 0, 1),
      ProgressiveScan(Seq(0), 1, 63, 1, 0),
      ProgressiveScan(Seq(0), 0, 0, 1, 0)))
    val parsed = JpegCodec.parse(prog)
    for (i <- blocks.indices)
      assert(parsed.blocks(i).sameElements(blocks(i)),
        s"block $i: ${parsed.blocks(i).mkString(",")}")
    // and the decoded pixels match the baseline encoding of the same blocks
    val base = JpegCodec.decode(JpegWriter.fromCoeffs(32, 8, blocks))
    assert(JpegCodec.decode(prog) == base)
  }

  test("truncated jpeg fails with a named error at every cut point, not AIOOBE") {
    val good = JpegWriter.generate(10, 9, 42)
    // cut inside every segment family: header, DQT, SOF, DHT, SOS, entropy
    for (cut <- Seq(3, 5, 25, 90, good.length - 40, good.length - 3)) {
      val e = intercept[IllegalArgumentException](
        graft.multimodal.JpegCodec.decode(java.util.Arrays.copyOf(good, cut)))
      assert(e.getMessage != null && e.getMessage.nonEmpty, s"cut=$cut")
    }
  }

  test("tiff with a large ignored ancillary tag (ICC-style) still decodes") {
    val good = MediaFixtures.tiff(6, 4, rgb = false, bigEndian = false, 9)
    // append an IFD entry for tag 34675 (ICC profile), type UNDEFINED (7),
    // count > 65536 — the decoder must skip it, not reject the file
    val ifdAt = ((good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24))
    val n = (good(ifdAt) & 0xff) | ((good(ifdAt + 1) & 0xff) << 8)
    val out = new Array[Byte](good.length + 12)
    // fixture layout: strip data + external arrays all sit BEFORE the IFD,
    // so inserting an entry inside the IFD shifts no referenced offsets
    val entriesEnd = ifdAt + 2 + n * 12
    System.arraycopy(good, 0, out, 0, entriesEnd)
    System.arraycopy(good, entriesEnd, out, entriesEnd + 12, good.length - entriesEnd)
    out(ifdAt) = ((n + 1) & 0xff).toByte
    out(ifdAt + 1) = (((n + 1) >> 8) & 0xff).toByte
    val at = entriesEnd
    out(at) = (34675 & 0xff).toByte; out(at + 1) = ((34675 >> 8) & 0xff).toByte
    out(at + 2) = 7; out(at + 3) = 0 // type UNDEFINED
    val bigCount = 200000L
    out(at + 4) = (bigCount & 0xff).toByte
    out(at + 5) = ((bigCount >> 8) & 0xff).toByte
    out(at + 6) = ((bigCount >> 16) & 0xff).toByte
    out(at + 7) = ((bigCount >> 24) & 0xff).toByte
    // offset field: bogus, must never be dereferenced for an ignored tag
    out(at + 8) = 0x7f.toByte
    val orig = MediaCodecs.decodeTiff(good)
    val meta =
      try MediaCodecs.decodeTiff(out)
      catch { case e: IllegalArgumentException =>
        fail(s"ignored-tag TIFF rejected: ${e.getMessage}") }
    assert(meta.width == orig.width && meta.height == orig.height &&
      meta.pixelSum == orig.pixelSum)
  }

  test("tiff geometry tag with a non-SHORT/LONG type fails with a named error") {
    val good = MediaFixtures.tiff(6, 4, rgb = false, bigEndian = false, 9)
    val ifdAt = ((good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24))
    val n = (good(ifdAt) & 0xff) | ((good(ifdAt + 1) & 0xff) << 8)
    val widthAt = (0 until n).map(e => ifdAt + 2 + e * 12)
      .find(at => ((good(at) & 0xff) | ((good(at + 1) & 0xff) << 8)) == 256).get
    val bad = good.clone()
    bad(widthAt + 2) = 1; bad(widthAt + 3) = 0 // type BYTE
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeTiff(bad))
    assert(e.getMessage.contains("type"), e.getMessage)
  }

  test("tiff decode: both byte orders, multi-strip, gray and RGB") {
    for (bigEndian <- Seq(false, true); rgb <- Seq(false, true)) {
      val (w, h, seed) = (9, 7, 200) // odd height: unequal strip split
      val meta = MediaCodecs.decodeTiff(MediaFixtures.tiff(w, h, rgb, bigEndian, seed))
      val ch = if (rgb) 3 else 1
      assert(meta.width == w && meta.height == h &&
        meta.mode == (if (rgb) "RGB" else "L"), s"be=$bigEndian rgb=$rgb: $meta")
      assert(meta.pixelSum == ch.toLong * w * rowSum(h, seed), s"be=$bigEndian rgb=$rgb: $meta")
    }
  }

  test("tiff LZW known vector: MSB packing, 9-bit codes, KwKwK, EOI") {
    // encode [7,7,7,8]: Clear, 7, 258 (KwKwK on decode), 8, EOI — all 9-bit
    val codes = Seq(256, 7, 258, 8, 257)
    val bs = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var buf = 0L; var cnt = 0
    for (c <- codes) {
      buf = (buf << 9) | c; cnt += 9
      while (cnt >= 8) { bs += ((buf >>> (cnt - 8)) & 0xff).toByte; cnt -= 8 }
    }
    if (cnt > 0) bs += ((buf << (8 - cnt)) & 0xff).toByte
    val packed: Array[Byte] = bs.toArray
    assert(MediaFixtures.tiffLzwEncode(Array[Byte](7, 7, 7, 8)).toSeq == packed.toSeq,
      "encoder does not match the hand-packed stream")
    val (sum, n) = MediaCodecs.tiffLzwStrip(packed, 0, packed.length, 100)
    assert(sum == 29 && n == 4, s"($sum, $n)")
  }

  test("tiff LZW strips decode identically to uncompressed across width growth") {
    // run-heavy strips push the dictionary past the 510 (9->10 bit)
    // EarlyChange point; deeper boundaries are covered by the LCG test below
    for ((w, h, rgb, be) <- Seq((200, 60, false, false), (100, 40, true, true))) {
      val plain = MediaCodecs.decodeTiff(MediaFixtures.tiff(w, h, rgb, be, 190))
      val z = MediaCodecs.decodeTiff(MediaFixtures.tiff(w, h, rgb, be, 190, lzw = true))
      assert(z == plain, s"${(w, h, rgb, be)}: $z vs $plain")
    }
    // h=1 leaves the second strip empty: the Clear+EOI-only stream must decode
    val one = MediaCodecs.decodeTiff(
      MediaFixtures.tiff(5, 1, rgb = false, bigEndian = false, 9, lzw = true))
    assert(one == MediaCodecs.decodeTiff(
      MediaFixtures.tiff(5, 1, rgb = false, bigEndian = false, 9)))
  }

  test("tiff LZW round-trips incompressible data across 1022/2046 and the 4092 clear") {
    // deterministic LCG bytes barely compress, so the dictionary adds ~one
    // entry per code: 9000 bytes crosses every width boundary and forces
    // the mid-stream Clear at 4092 with dictionary resync
    var s = 12345
    val data = Array.tabulate(9000) { _ => s = s * 1103515245 + 12345; (s >>> 16).toByte }
    val enc = MediaFixtures.tiffLzwEncode(data)
    val (sum, n) = MediaCodecs.tiffLzwStrip(enc, 0, enc.length, data.length)
    assert(n == data.length, s"decoded $n of ${data.length}")
    assert(sum == data.map(b => (b & 0xff).toLong).sum)
  }

  test("tiff PackBits strips decode identically to uncompressed") {
    for (bigEndian <- Seq(false, true); rgb <- Seq(false, true)) {
      val (w, h, seed) = (150, 7, 200) // rowBytes > 128: runs cross the chunk cap
      val plain = MediaCodecs.decodeTiff(MediaFixtures.tiff(w, h, rgb, bigEndian, seed))
      val packed = MediaCodecs.decodeTiff(
        MediaFixtures.tiff(w, h, rgb, bigEndian, seed, packBits = true))
      assert(packed == plain, s"be=$bigEndian rgb=$rgb")
    }
  }

  test("unsupported tiff compression is an explicit error, not garbage pixels") {
    val good = MediaFixtures.tiff(6, 4, rgb = false, bigEndian = false, 9)
    // compression entry (tag 259) value: flip 1 -> 7 (JPEG-in-TIFF) in the IFD
    val ifdAt = ((good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24))
    val bad = good.clone()
    val n = (bad(ifdAt) & 0xff) | ((bad(ifdAt + 1) & 0xff) << 8)
    val entries = (0 until n).map(e => ifdAt + 2 + e * 12)
    val compAt = entries.find(at => ((bad(at) & 0xff) | ((bad(at + 1) & 0xff) << 8)) == 259).get
    bad(compAt + 8) = 7
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeTiff(bad))
    assert(e.getMessage.contains("compressed TIFF"), e.getMessage)
  }

  test("flac metadata: STREAMINFO bit unpacking and vorbis comments") {
    val m = MediaCodecs.parseFlac(MediaFixtures.flac(44100, 2, 16,
      44100L * 7 + 22050, Seq("TITLE" -> "Song A", "artist" -> "Band B")))
    assert(m.sampleRate == 44100 && m.channels == 2 && m.bitsPerSample == 16, m)
    assert(m.durationMs == (44100L * 7 + 22050) * 1000 / 44100, m)
    assert(m.tags == Map("title" -> "Song A", "artist" -> "Band B"), m.tags)
    // 36-bit total-samples field: a value above 2^32 must survive packing
    val big = MediaCodecs.parseFlac(MediaFixtures.flac(96000, 8, 24, (1L << 35) + 5, Nil))
    assert(big.totalSamples == (1L << 35) + 5 && big.channels == 8 &&
      big.bitsPerSample == 24, big)
  }

  test("ogg vorbis: page walk, identification params, comment reassembly") {
    val m = MediaCodecs.parseOggVorbis(MediaFixtures.oggVorbis(
      2, 48000, 128000, Seq("TITLE" -> "S", "artist" -> "B")))
    assert(m.channels == 2 && m.sampleRate == 48000 && m.bitrateNominal == 128000, m)
    assert(m.tags == Map("title" -> "S", "artist" -> "B"), m.tags)
    // a comment packet > 255 bytes forces 255-lacing continuation
    val big = MediaCodecs.parseOggVorbis(MediaFixtures.oggVorbis(
      1, 44100, 0, Seq("TITLE" -> ("y" * 400))))
    assert(big.tags("title") == "y" * 400)
    // the same packet split ACROSS a page boundary (continued 0x01 page)
    val across = MediaCodecs.parseOggVorbis(MediaFixtures.oggVorbis(
      1, 44100, 0, Seq("TITLE" -> ("y" * 400)), splitComment = true))
    assert(across.tags == big.tags, across.tags)
    // a bare identification page with no comment header fails named
    val idOnly = MediaFixtures.oggVorbis(1, 44100, 0, Nil).take(58)
    val e = intercept[IllegalArgumentException](MediaCodecs.parseOggVorbis(idOnly))
    assert(e.getMessage != null, e.toString)
  }

  test("id3v2 text frames parse in both v2.3 and v2.4 size conventions") {
    for (v24 <- Seq(true, false)) {
      val tags = MediaCodecs.parseId3v2(MediaFixtures.mp3Id3(
        Seq("TIT2" -> "Título", "TPE1" -> "Artist", "TALB" -> "LP"), v24))
      assert(tags == Map("TIT2" -> "Título", "TPE1" -> "Artist", "TALB" -> "LP"),
        s"v24=$v24: $tags")
      // frame > 127 bytes: syncsafe and plain sizes actually diverge there
      val long = "x" * 200
      val t2 = MediaCodecs.parseId3v2(MediaFixtures.mp3Id3(
        Seq("TIT2" -> long, "TALB" -> "B"), v24))
      assert(t2("TIT2") == long && t2("TALB") == "B", s"v24=$v24")
    }
  }

  test("id3v2 UTF-16 text frames decode (the dominant v2.3 non-ASCII encoding)") {
    def tag(enc: Int, payload: Array[Byte]): Array[Byte] = {
      val size = payload.length + 1
      val out = new java.io.ByteArrayOutputStream()
      out.write("ID3".getBytes); out.write(3); out.write(0); out.write(0)
      val total = 10 + size
      out.write((total >>> 21) & 0x7f); out.write((total >>> 14) & 0x7f)
      out.write((total >>> 7) & 0x7f); out.write(total & 0x7f)
      out.write("TIT2".getBytes)
      out.write((size >>> 24) & 0xff); out.write((size >>> 16) & 0xff)
      out.write((size >>> 8) & 0xff); out.write(size & 0xff)
      out.write(0); out.write(0)
      out.write(enc); out.write(payload)
      out.toByteArray
    }
    val name = "Beyoncé"
    // encoding 1: UTF-16 with BOM (LE, as Windows taggers write it)
    val bomLe = (Array[Byte](0xff.toByte, 0xfe.toByte) ++
      name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    assert(MediaCodecs.parseId3v2(tag(1, bomLe)) == Map("TIT2" -> name))
    // encoding 2: UTF-16BE, no BOM (v2.4)
    assert(MediaCodecs.parseId3v2(tag(2,
      name.getBytes(java.nio.charset.StandardCharsets.UTF_16BE))) == Map("TIT2" -> name))
  }

  test("mp3 APEv2/Lyrics3 trailers are skipped like ID3v1, not sync-loss errors") {
    val clean = MediaFixtures.mp3Frames(mpeg2 = false, bitrateIdx = 9,
      freqIdx = 0, mono = false, nFrames = 12)
    val want = MediaCodecs.parseMpegAudio(clean).durationMs
    for (trailer <- Seq("APETAGEX", "LYRICSBEGIN")) {
      val tagged = clean ++ trailer.getBytes ++ Array.fill[Byte](40)(7)
      val m = MediaCodecs.parseMpegAudio(tagged)
      assert(m.durationMs == want, s"$trailer changed the duration")
    }
  }

  test("short WAV fmt chunk is a named error, not neighbour-chunk parameters") {
    val wav = MediaFixtures.wav(1, 8000, 10, 0)
    val bad = wav.clone()
    bad(16) = 8; bad(17) = 0; bad(18) = 0; bad(19) = 0 // fmt size 16 -> 8
    val e = intercept[IllegalArgumentException](MediaCodecs.parseWav(bad))
    assert(e.getMessage.contains("too short"), e.getMessage)
  }

  test("flac/id3 hostile shapes fail named; TXXX and header flags handled") {
    // negative vorbis vendor length must not walk the cursor backwards
    val good = MediaFixtures.flac(44100, 2, 16, 44100, Seq("TITLE" -> "x"))
    val vcAt = {
      // VORBIS_COMMENT block: header byte 0x04 after the 38-byte STREAMINFO
      val at = 4 + 4 + 34
      assert((good(at) & 0x7f) == 4, s"block at $at: ${good(at)}")
      at + 4 // body start = vendor length field
    }
    val bad = good.clone()
    bad(vcAt) = 0xfc.toByte; bad(vcAt + 1) = 0xff.toByte
    bad(vcAt + 2) = 0xff.toByte; bad(vcAt + 3) = 0xff.toByte // -4 as u32le
    val e = intercept[IllegalArgumentException](MediaCodecs.parseFlac(bad))
    assert(e.getMessage.contains("out of bounds"), e.getMessage)
    // ID3 extended-header flag: refused, not silently parsed as padding
    val id3 = MediaFixtures.mp3Id3(Seq("TIT2" -> "t"))
    val flagged = id3.clone(); flagged(5) = 0x40
    val e2 = intercept[IllegalArgumentException](MediaCodecs.parseId3v2(flagged))
    assert(e2.getMessage.contains("flags unsupported"), e2.getMessage)
    // TXXX (description NUL value layout) is skipped, not misparsed
    val withTxxx = MediaCodecs.parseId3v2(MediaFixtures.mp3Id3(
      Seq("TXXX" -> "k v", "TIT2" -> "real")))
    assert(withTxxx == Map("TIT2" -> "real"), withTxxx)
  }

  test("mp4 box walk: mvhd duration/timescale and tkhd 16.16 dimensions, v0 and v1") {
    for (v1 <- Seq(false, true)) {
      val m = MediaCodecs.parseMp4(MediaFixtures.mp4(640, 360, 90000, 600, v1))
      assert(m.durationMs == 90000L * 1000 / 600 && m.timescale == 600, s"v1=$v1: $m")
      assert(m.width == 640 && m.height == 360 && m.tracks == 1, s"v1=$v1: $m")
    }
    // sniff + batch kernel: real duration seconds, contained truncation
    import graft.multimodal.Multimodal
    assert(Multimodal.sniffMedia(MediaFixtures.mp4(64, 48, 5000, 1000)) == "video/mp4")
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rows = Multimodal.decodeFeatures(Seq(
      Multimodal.MediaRow(1L, "", MediaFixtures.mp4(64, 48, 5000, 1000)),
      Multimodal.MediaRow(2L, "", java.util.Arrays.copyOf(
        MediaFixtures.mp4(64, 48, 5000, 1000), 40))).toDS()).collect().sortBy(_.doc_id)
    assert(rows(0).width == 64 && rows(0).feature(0) == 5.0f && rows(0).error.isEmpty, rows(0))
    assert(rows(1).error.nonEmpty, rows(1))
  }

  test("mp4 hostile shapes: ftyp impostor unclaimed, short boxes fail named") {
    // text spelling 'ftyp' at offset 4 has a garbage size field: not mp4
    assert(!MediaCodecs.isMp4("<h1>ftyp hello world</h1>".getBytes))
    // an mvhd declaring size 12 (payload = version/flags only) must fail
    // contained, not read the following box's bytes as timescale/duration
    val good = MediaFixtures.mp4(64, 48, 5000, 1000)
    val moovAt = good.indexOfSlice("moov".getBytes) - 4
    val mvhdAt = good.indexOfSlice("mvhd".getBytes) - 4
    val bad = good.clone()
    bad(mvhdAt + 3) = 12 // shrink the declared mvhd size
    val e = intercept[IllegalArgumentException](MediaCodecs.parseMp4(bad))
    assert(e.getMessage.contains("too short"), s"moovAt=$moovAt: ${e.getMessage}")
  }

  test("wav parse: channels, rate, bits, floor-division duration") {
    val bytes = MediaFixtures.wav(channels = 2, sampleRate = 22050, frames = 777, seed = 3)
    val m = MediaCodecs.parseWav(bytes)
    assert(m.channels == 2 && m.frameRate == 22050 && m.bitsPerSample == 16)
    assert(m.dataBytes == 777L * 2 * 2)
    assert(m.durationMs == m.dataBytes * 1000 / (22050 * 2 * 2))
    // real sample decode: arithmetic series (seed+f)%4096 - 2048, no wrap
    val n = 777L * 2
    assert(MediaCodecs.wavSampleSum(bytes) == n * (3 - 2048) + n * (n - 1) / 2)
  }

  test("wav with a near-Int.MaxValue data size fails contained, not wrong") {
    val bad = MediaFixtures.wav(channels = 1, sampleRate = 8000, frames = 4, seed = 3).clone()
    // canonical layout: 'data' id at 36, its size field at 40 -> 0x7ffffff0
    // (large enough that a 32-bit `i + 8 + size` containment check wraps)
    bad(40) = 0xf0.toByte; bad(41) = 0xff.toByte; bad(42) = 0xff.toByte; bad(43) = 0x7f.toByte
    val e = intercept[IllegalArgumentException](MediaCodecs.parseWav(bad))
    assert(e.getMessage.contains("overruns"), e.getMessage)
  }

  test("jpeg out-of-range table ids fail with named errors, not AIOOBE") {
    val good = JpegWriter.generate(8, 8, 10)
    val dqtAt = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xdb).get
    val bad = good.clone(); bad(dqtAt + 4) = 0x05 // Pq=0, Tq=5
    val e = intercept[IllegalArgumentException](graft.multimodal.JpegCodec.decode(bad))
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("garbage media payloads fail contained, not with task-killing throws") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark
    import spark.implicits._
    // legal 16384x16384 VP8L header: a format we DO decode, over the cap
    val overCap = {
      val o = new java.io.ByteArrayOutputStream
      def u32le(v: Int): Unit = { o.write(v); o.write(v >> 8); o.write(v >> 16); o.write(v >> 24) }
      o.write("RIFF".getBytes("ISO-8859-1")); u32le(22)
      o.write("WEBPVP8L".getBytes("ISO-8859-1")); u32le(10)
      o.write(0x2f); o.write(0xff); o.write(0xff); o.write(0xff); o.write(0x0f)
      o.write(Array.fill[Byte](5)(0)); o.toByteArray
    }
    val rows = Seq(
      graft.multimodal.Multimodal.MediaRow(1L, "", "BMnot-a-real-bmp".getBytes),
      graft.multimodal.Multimodal.MediaRow(2L, "", Array[Byte](0, 1, 2)),
      graft.multimodal.Multimodal.MediaRow(3L, "", MediaFixtures.bmp(4, 3, 24, 9)),
      graft.multimodal.Multimodal.MediaRow(4L, "", overCap))
    val out = graft.multimodal.Multimodal.decodeImages(rows.toDS()).collect()
      .sortBy(_.doc_id)
    assert(out(0).error.nonEmpty && out(1).error.nonEmpty)
    assert(out(2).error.isEmpty && out(2).width == 4 && out(2).pixel_sum > 0)
    // the size-cap rejection must be NAMED, not blamed on the format
    assert(out(3).error.contains("64 MiB"), out(3).error)
  }

  // ---- content-refined mime -------------------------------------------------

  test("mimeGuessBytes refines containers by package content") {
    import graft.fixtures._; import graft.serialize._
    assert(DocFunctions.mimeGuessBytes(DocxWriter.generate(paras, 0)) ==
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document")
    assert(DocFunctions.mimeGuessBytes(PptxWriter.generate(paras, 0)) ==
      "application/vnd.openxmlformats-officedocument.presentationml.presentation")
    assert(DocFunctions.mimeGuessBytes(XlsxWriter.generate(paras, 0)) ==
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
    assert(DocFunctions.mimeGuessBytes(OdfWriter.generate("odp", paras, 0)) ==
      "application/vnd.oasis.opendocument.presentation")
    assert(DocFunctions.mimeGuessBytes(EpubWriter.generate(paras, 0)) ==
      "application/epub+zip")
    assert(DocFunctions.mimeGuessBytes(CfbWriter.generate("doc")) == "application/msword")
    assert(DocFunctions.mimeGuessBytes(CfbWriter.generate("xls")) == "application/vnd.ms-excel")
    assert(DocFunctions.mimeGuessBytes(CfbWriter.generate("ppt")) == "application/vnd.ms-powerpoint")
    assert(DocFunctions.mimeGuessBytes(CfbWriter.generate("zzz")) == "application/x-ole-storage")
    assert(DocFunctions.mimeGuessBytes(OdfWriter.generate("ott", paras, 0)) ==
      "application/vnd.oasis.opendocument.text-template")
    assert(DocFunctions.mimeGuessBytes(OdfWriter.generate("sxw", paras, 0)) ==
      "application/vnd.sun.xml.writer")
    // a zip that is none of the known containers
    val plainZip = OoxmlZip.write(Seq("a.txt" -> "hello"), store = false)
    assert(DocFunctions.mimeGuessBytes(plainZip) == "application/zip")
    assert(DocFunctions.mimeGuessBytes("%PDF-1.4".getBytes) == "application/pdf")
    assert(DocFunctions.mimeGuessBytes("{\\rtf1 x}".getBytes) == "application/rtf")
    assert(DocFunctions.mimeGuessBytes("<html><body>x</body></html>".getBytes) == "text/html")
    assert(DocFunctions.mimeGuessBytes("plain words".getBytes) == "application/octet-stream")
    assert(DocFunctions.mimeGuessBytes(OdfWriter.generateFlat("odt", paras, 0)) ==
      "application/xml")
  }

  // ---- langid on natural prose ----------------------------------------------

  test("every LangProse 3-sentence window is classified correctly") {
    // every start offset of every language's pool — the exact corpus the
    // ta_langid oracle asserts 100% on
    for (lang <- Seq("en", "fr", "es", "de", "zh"); id <- 0 until 16) {
      val text = graft.fixtures.LangProse.sample(lang, id.toLong)
      val got = graft.textops.LangId.detect(text)._1
      assert(got == lang, s"$lang window $id misdetected as $got on: $text")
    }
  }

  test("langid stays correct on single natural sentences (harder than windows)") {
    for ((lang, sentences) <- graft.fixtures.LangProse.pool; (s, i) <- sentences.zipWithIndex) {
      val got = graft.textops.LangId.detect(s)._1
      assert(got == lang, s"$lang sentence $i misdetected as $got on: $s")
    }
  }
}
