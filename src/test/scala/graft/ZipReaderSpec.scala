package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.lang.management.ManagementFactory
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, ZipInputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.ooxml.OoxmlExtractor
import graft.model.{ExtractionResult, WebPage}
import graft.serialize.{DocxWriter, EpubWriter, OdfWriter, PptxWriter, XlsxWriter}
import graft.util.ZipReader

/** The random-access zip reader every container kernel uses: the index,
  * one inflate per wanted part, and a decided behaviour for each hostile
  * archive case. */
class ZipReaderSpec extends AnyFunSuite {

  private val paras = Seq("Alpha paragraph one.", "Bravo paragraph two, a bit longer.",
    "Charlie three.", "Delta four & <five>.")

  private def extract(bytes: Array[Byte]): ExtractionResult =
    Extractor.extractOne(WebPage("u", new java.sql.Timestamp(0), bytes, "", "en"), 0)

  /** Every entry of `zip` as name → bytes, read by the JDK's stream reader. */
  private def jdkParts(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val in = new ZipInputStream(new ByteArrayInputStream(zip))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> in.readAllBytes()).toMap
    finally in.close()
  }

  private def le(buf: Array[Byte]): ByteBuffer = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)

  private def rawDeflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A hand-built archive: each part STORED or raw-DEFLATED, with data
    * descriptors (flag bit 3) or sizes in the local headers, with every
    * size and offset in ZIP64 extra fields and a ZIP64 end record, or with
    * no central directory at all. Unlike `ZipOutputStream`, it writes
    * duplicate names as given. */
  private def build(parts: Seq[(String, String)], deflate: Boolean = true,
                    descriptor: Boolean = false, zip64: Boolean = false,
                    centralDirectory: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val cen = new ByteArrayOutputStream()
    def u16(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v); o.write(v >>> 8) }
    def u32(o: ByteArrayOutputStream, v: Long): Unit = { u16(o, v.toInt & 0xffff); u16(o, (v >>> 16).toInt & 0xffff) }
    def u64(o: ByteArrayOutputStream, v: Long): Unit = { u32(o, v & 0xffffffffL); u32(o, v >>> 32) }
    def sized(v: Long): Long = if (zip64) 0xffffffffL else v
    def extra(values: Long*): Array[Byte] =
      if (!zip64) Array.emptyByteArray
      else {
        val e = new ByteArrayOutputStream()
        u16(e, 1); u16(e, 8 * values.length); values.foreach(u64(e, _))
        e.toByteArray
      }
    val method = if (deflate) 8 else 0
    val flags = if (descriptor) 8 else 0
    // a text repeated across parts is encoded once
    val encoded = parts.map(_._2).distinct.map { text =>
      val data = text.getBytes(UTF_8)
      val crc = new CRC32
      crc.update(data)
      text -> (data.length.toLong, if (deflate) rawDeflate(data) else data, crc.getValue)
    }.toMap
    for ((name, text) <- parts) {
      val (size, body, crc) = encoded(text)
      val nameBytes = name.getBytes(UTF_8)
      val offset = out.size.toLong
      val localExtra = if (descriptor) Array.emptyByteArray else extra(size, body.length)
      u32(out, 0x04034b50); u16(out, 45); u16(out, flags); u16(out, method); u32(out, 0)
      if (descriptor) { u32(out, 0); u32(out, 0); u32(out, 0) }
      else { u32(out, crc); u32(out, sized(body.length)); u32(out, sized(size)) }
      u16(out, nameBytes.length); u16(out, localExtra.length)
      out.write(nameBytes); out.write(localExtra); out.write(body)
      if (descriptor) { u32(out, 0x08074b50); u32(out, crc); u32(out, body.length); u32(out, size) }
      val cenExtra = extra(size, body.length, offset)
      u32(cen, 0x02014b50); u16(cen, 45); u16(cen, 45); u16(cen, flags); u16(cen, method); u32(cen, 0)
      u32(cen, crc); u32(cen, sized(body.length)); u32(cen, sized(size))
      u16(cen, nameBytes.length); u16(cen, cenExtra.length); u16(cen, 0); u16(cen, 0); u16(cen, 0)
      u32(cen, 0); u32(cen, sized(offset))
      cen.write(nameBytes); cen.write(cenExtra)
    }
    if (centralDirectory) {
      val cdOffset = out.size.toLong
      cen.writeTo(out)
      if (zip64) {
        val record = out.size.toLong
        u32(out, 0x06064b50); u64(out, 44); u16(out, 45); u16(out, 45); u32(out, 0); u32(out, 0)
        u64(out, parts.length); u64(out, parts.length); u64(out, cen.size); u64(out, cdOffset)
        u32(out, 0x07064b50); u32(out, 0); u64(out, record); u32(out, 1)
      }
      u32(out, 0x06054b50); u16(out, 0); u16(out, 0); u16(out, parts.length); u16(out, parts.length)
      u32(out, sized(cen.size)); u32(out, sized(cdOffset)); u16(out, 0)
    }
    out.toByteArray
  }

  private val sample = Seq("mimetype" -> "application/epub+zip",
    "a/one.xml" -> ("<x>" + "one " * 200 + "</x>"), "b/two.xml" -> "<y>two</y>", "empty" -> "")

  private def readAll(zip: Array[Byte]): Seq[(String, String)] = {
    val r = ZipReader(zip)
    r.names.map(n => n -> new String(r.read(n).get, UTF_8)).toSeq
  }

  test("reads every part, stored or deflated, with or without data descriptors, with or without a central directory") {
    for (deflate <- Seq(true, false); descriptor <- Seq(false, true) if deflate || !descriptor;
         cd <- Seq(true, false)) {
      val zip = build(sample, deflate = deflate, descriptor = descriptor, centralDirectory = cd)
      assert(readAll(zip) == sample, s"deflate=$deflate descriptor=$descriptor cd=$cd")
    }
  }

  test("reads ZipOutputStream archives, whose parts carry data descriptors, exactly as the JDK does") {
    val zips = Seq(DocxWriter.generate(paras, 0), PptxWriter.generate(paras, 1),
      XlsxWriter.generate(paras, 2), OdfWriter.generate("ods", paras, 0),
      EpubWriter.generate(paras, 1), EpubWriter.generate(paras, 2))
    for (zip <- zips) {
      val want = jdkParts(zip)
      val r = ZipReader(zip)
      assert(r.names.toSet == want.keySet)
      for ((name, bytes) <- want) assert(r.read(name).get.toSeq == bytes.toSeq, name)
    }
  }

  test("ZIP64: sizes and offsets come from the zip64 extra fields and the zip64 end record") {
    for (descriptor <- Seq(false, true); cd <- Seq(true, false)) {
      val zip = build(sample, descriptor = descriptor, zip64 = true, centralDirectory = cd)
      assert(readAll(zip) == sample, s"descriptor=$descriptor cd=$cd")
    }
    val docx = build(Seq("word/document.xml" -> "<w:p><w:t>zip sixty-four</w:t></w:p>"), zip64 = true)
    val r = extract(docx)
    assert(r.success && r.format_from == "docx" && r.text == "zip sixty-four", r.toString)
  }

  test("duplicate names: the first entry wins, with or without a central directory") {
    val dup = Seq("word/document.xml" -> "<w:p><w:t>first</w:t></w:p>",
      "word/document.xml" -> "<w:p><w:t>second</w:t></w:p>")
    for (cd <- Seq(true, false)) {
      val zip = build(dup, centralDirectory = cd)
      assert(ZipReader(zip).names.toSeq == Seq("word/document.xml"))
      assert(extract(zip).text == "first", s"cd=$cd")
    }
  }

  test("an archive cut before or inside its central directory is indexed by the local-header scan") {
    for (zip <- Seq(DocxWriter.generate(paras, 1), EpubWriter.generate(paras, 3),
                    OdfWriter.generate("odt", paras, 2))) {
      val want = extract(zip)
      val cdStart = le(zip).getInt(zip.length - 6)
      for (cut <- Seq(cdStart, cdStart + 30, zip.length - 10)) {
        val got = extract(zip.take(cut))
        assert(got.success && got.text == want.text && got.format_from == want.format_from,
          s"cut at $cut of ${zip.length}: ${got.error}")
      }
    }
  }

  test("a part cut short is a named error row, and the parts before it still index") {
    val zip = build(Seq("docProps/app.xml" -> "<Properties/>",
      "word/document.xml" -> ("<w:p><w:t>" + "word " * 300 + "</w:t></w:p>")),
      descriptor = true, centralDirectory = false)
    val cut = zip.take(zip.length - 40)
    val reader = ZipReader(cut)
    assert(reader.names.toSeq == Seq("docProps/app.xml", "word/document.xml"))
    assert(reader.read("docProps/app.xml").map(new String(_, UTF_8)).contains("<Properties/>"))
    val r = extract(cut)
    assert(!r.success && r.format_from == "docx", r.toString)
    assert(r.error == "IllegalArgumentException: requirement failed: word/document.xml truncated: no data descriptor",
      r.error)
    val sized = build(Seq("word/document.xml" -> "<w:p><w:t>x</w:t></w:p>"), centralDirectory = false)
    assert(extract(sized.take(sized.length - 3)).error.contains("word/document.xml truncated: "))
  }

  test("a local header that disagrees with the index on method or sizes is a named error") {
    val zip = build(Seq("word/document.xml" -> "<w:p><w:t>hi</w:t></w:p>"))
    val method = zip.clone()
    le(method).putShort(8, 0)
    assert(extract(method).error == "IllegalArgumentException: requirement failed: word/document.xml: " +
      "local header method 0 disagrees with the central directory's 8")
    val sizes = zip.clone()
    le(sizes).putInt(22, 1000)
    assert(extract(sizes).error.startsWith("IllegalArgumentException: requirement failed: word/document.xml: " +
      "local header sizes"))
  }

  test("a CRC-32 or size that disagrees with the data is a named error") {
    val stored = build(Seq("word/document.xml" -> "<w:p><w:t>hello</w:t></w:p>"), deflate = false)
    val flipped = stored.clone()
    flipped(30 + "word/document.xml".length + 12) = 'j'
    assert(extract(flipped).error == "IllegalArgumentException: requirement failed: word/document.xml: CRC-32 mismatch")
    val deflated = build(Seq("word/document.xml" -> "<w:p><w:t>hello</w:t></w:p>"), descriptor = true)
    val cdAt = le(deflated).getInt(deflated.length - 6)
    le(deflated).putInt(cdAt + 24, 5)
    assert(extract(deflated).error ==
      "IllegalArgumentException: requirement failed: word/document.xml: 27 bytes, index says 5")
  }

  test("an index that claims 60 MiB for a tiny part allocates < 1 MiB before it fails") {
    val zip = build(Seq("word/document.xml" -> "<w:p><w:t>tiny</w:t></w:p>"), descriptor = true)
    val cdAt = le(zip).getInt(zip.length - 6)
    val sizeClaim = zip.clone()
    le(sizeClaim).putInt(cdAt + 24, 60 << 20)
    val csizeClaim = zip.clone()
    le(csizeClaim).putInt(cdAt + 20, 60 << 20)
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    for ((lying, error) <- Seq(sizeClaim -> "word/document.xml: 26 bytes, index says 62914560",
                               csizeClaim -> "word/document.xml truncated: 62914560 bytes at 47 run past")) {
      extract(lying) // load classes outside the measurement
      val before = mx.getCurrentThreadAllocatedBytes
      val r = extract(lying)
      val allocated = mx.getCurrentThreadAllocatedBytes - before
      assert(!r.success && r.error.contains(error), r.error)
      assert(allocated < (1L << 20), s"allocated $allocated bytes")
    }
  }

  test("the document cap holds across parts: an EPUB of five 60 MiB chapters fails at the fifth") {
    val chapter = "<p>" + " " * (60 << 20) + "</p>"
    val spine = (1 to 5).map(i => s"OEBPS/c$i.xhtml")
    val opf = "<package><manifest>" + spine.indices.map(i =>
      s"""<item id="c$i" href="c${i + 1}.xhtml" media-type="application/xhtml+xml"/>""").mkString +
      "</manifest><spine>" + spine.indices.map(i => s"""<itemref idref="c$i"/>""").mkString +
      "</spine></package>"
    val zip = build(Seq("mimetype" -> graft.extract.epub.EpubExtractor.mimetype,
      "META-INF/container.xml" -> """<container><rootfiles><rootfile full-path="OEBPS/content.opf"/></rootfiles></container>""",
      "OEBPS/content.opf" -> opf) ++ spine.map(_ -> chapter))
    assert(zip.length < (2 << 20), s"archive is ${zip.length} bytes")
    val r = extract(zip)
    assert(!r.success)
    assert(r.error.startsWith("IllegalArgumentException: requirement failed: OEBPS/c5.xhtml expands past document cap 268435456 ("),
      r.error)
  }

  test("each part a kernel needs is inflated exactly once") {
    def check(zip: Array[Byte], needed: String => Boolean): Unit = {
      val want = jdkParts(zip).collect { case (n, b) if needed(n) => b.length.toLong }.sum
      val reader = ZipReader(zip)
      OoxmlExtractor.extract(reader)
      assert(reader.inflated == want, jdkParts(zip).keys.toSeq.sorted.toString)
    }
    val slide = "^ppt/slides/slide[0-9]+\\.xml$".r
    val sheet = "^xl/worksheets/sheet[0-9]+\\.xml$".r
    check(DocxWriter.generate(paras, 2), _ == "word/document.xml")
    check(PptxWriter.generate(paras, 1), n => slide.matches(n))
    check(XlsxWriter.generate(paras, 0), n => n == "xl/sharedStrings.xml" || sheet.matches(n))
    check(OdfWriter.generate("odt", paras, 1), n => n == "mimetype" || n == "content.xml")
    // EPUB: dispatch reads the mimetype, the kernel container.xml, the OPF
    // and the spine chapters; variant 1's nav and stylesheet are not in the spine
    for (v <- 0 until EpubWriter.numVariants)
      check(EpubWriter.generate(paras, v), n => n != "OEBPS/nav.xhtml" && n != "OEBPS/style.css")
  }
}
