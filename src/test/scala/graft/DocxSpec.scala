package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.docx.DocxExtractor
import graft.serialize.DocxWriter

/** DOCX kernel: hand-authored document.xml fixtures (goldens derived by
  * hand, not by the writer), writer round-trips over all variants, sniffing,
  * and degenerate-package containment. */
class DocxSpec extends AnyFunSuite {

  test("hand-authored document.xml: runs join, paragraphs newline-separate") {
    val xml =
      """<?xml version="1.0"?><w:document xmlns:w="x"><w:body>""" +
        """<w:p><w:r><w:t>alpha bravo</w:t></w:r><w:r><w:t xml:space="preserve"> charlie</w:t></w:r></w:p>""" +
        """<w:p><w:pPr><w:pStyle w:val="H1"/></w:pPr><w:r><w:rPr><w:b/></w:rPr><w:t>delta</w:t></w:r></w:p>""" +
        """</w:body></w:document>"""
    assert(DocxExtractor.extractDocumentXml(xml) == "alpha bravo charlie\ndelta")
  }

  test("hand-authored: entities decode, empty paragraphs emit no line") {
    val xml =
      """<w:document><w:body>""" +
        """<w:p/>""" +
        """<w:p><w:r><w:t>a &amp; b &lt;c&gt; &#x41;&#66;</w:t></w:r></w:p>""" +
        """<w:p><w:pPr/></w:p>""" +
        """<w:p><w:r><w:t/></w:r></w:p>""" +
        """<w:p><w:r><w:t>end</w:t></w:r></w:p>""" +
        """</w:body></w:document>"""
    assert(DocxExtractor.extractDocumentXml(xml) == "a & b <c> AB\nend")
  }

  test("hand-authored: table cell paragraphs extract in document order") {
    val xml =
      """<w:document><w:body><w:tbl><w:tr>""" +
        """<w:tc><w:p><w:r><w:t>cell one</w:t></w:r></w:p></w:tc>""" +
        """<w:tc><w:p><w:r><w:t>cell two</w:t></w:r></w:p></w:tc>""" +
        """</w:tr></w:tbl><w:p><w:r><w:t>after</w:t></w:r></w:p></w:body></w:document>"""
    assert(DocxExtractor.extractDocumentXml(xml) == "cell one\ncell two\nafter")
  }

  test("writer round-trip is byte-identical for every variant") {
    val paras = Vector(
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor",
      "whiskey xray yankee zulu")
    for (v <- 0 until DocxWriter.numVariants) {
      val bytes = DocxWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "docx", s"variant $v sniff")
      val got = DocxExtractor.extract(bytes)
      val want = paras.mkString("\n")
      assert(got.getBytes(StandardCharsets.UTF_8)
        .sameElements(want.getBytes(StandardCharsets.UTF_8)),
        s"variant $v:\n--- got ---\n$got\n--- want ---\n$want")
    }
  }

  test("empty paragraphs round-trip as empty lines (every variant)") {
    val paras = Vector("alpha bravo", "", "charlie")
    for (v <- 0 until DocxWriter.numVariants) {
      val got = DocxExtractor.extract(DocxWriter.generate(paras, v))
      assert(got == "alpha bravo\n\ncharlie", s"variant $v: ${got.replace("\n", "\\n")}")
    }
  }

  test("a leading empty paragraph keeps its line (every variant)") {
    for (v <- 0 until DocxWriter.numVariants) {
      val got = DocxExtractor.extract(DocxWriter.generate(Seq("", "a"), v))
      assert(got == "\na", s"variant $v: ${got.replace("\n", "\\n")}")
    }
  }

  test("writer output is byte-deterministic") {
    val paras = Vector("one two three", "four five six")
    for (v <- 0 until DocxWriter.numVariants) {
      val a = DocxWriter.generate(paras, v)
      val b = DocxWriter.generate(paras, v)
      assert(java.util.Arrays.equals(a, b), s"variant $v not deterministic")
    }
  }

  test("xml special characters survive the writer round-trip") {
    val paras = Vector("a < b & c > d", "quotes \" and ' fine")
    for (v <- Seq(0, 1, 3)) { // variant 2 splits mid-char-run; also covered
      val got = DocxExtractor.extract(DocxWriter.generate(paras, v))
      assert(got == paras.mkString("\n"), s"variant $v: $got")
    }
  }

  test("degenerate packages become failure rows, never exceptions") {
    val notDocx = {
      // a zip without word/document.xml
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(out)
      z.putNextEntry(new java.util.zip.ZipEntry("hello.txt"))
      z.write("hi".getBytes(StandardCharsets.UTF_8))
      z.closeEntry(); z.close()
      out.toByteArray
    }
    val truncated = DocxWriter.generate(Vector("some words"), 0).take(40).toArray
    val garbage = Array[Byte]('P', 'K', 3, 4, 0, 0, 0, 0)
    for ((bytes, i) <- Seq(notDocx, truncated, garbage).zipWithIndex) {
      val page = graft.model.WebPage(s"u$i", new java.sql.Timestamp(0), bytes, "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(r.format_from == "docx", s"case $i routed as ${r.format_from}")
      assert(!r.success && r.error.nonEmpty, s"case $i expected failure row, got $r")
    }
  }
}
