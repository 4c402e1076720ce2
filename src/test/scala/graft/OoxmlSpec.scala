package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.ooxml.OoxmlExtractor
import graft.serialize.{PptxWriter, XlsxWriter}

/** PPTX/XLSX kernels: hand-authored XML fixtures, writer round-trips over
  * all variants, container-kind refinement, degenerate packages. */
class OoxmlSpec extends AnyFunSuite {

  private val paras = Vector(
    "alpha bravo charlie delta echo foxtrot golf hotel",
    "india juliet kilo lima mike november oscar",
    "papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four five six")

  test("hand-authored slide xml: a:t runs join per a:p paragraph") {
    val xml = "<p:sld><p:cSld><p:spTree><p:sp><p:txBody>" +
      "<a:p><a:r><a:t>one two</a:t></a:r><a:r><a:t> three</a:t></a:r></a:p>" +
      "<a:p><a:pPr/><a:r><a:rPr b=\"1\"/><a:t>four</a:t></a:r></a:p>" +
      "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    assert(graft.extract.docx.DocxExtractor.extractRuns(xml, "a:p", "a:t") == "one two three\nfour")
  }

  test("hand-authored sheet xml: shared + inline cells, tab/row joins") {
    val shared = OoxmlExtractor.parseSharedStrings(
      "<sst><si><t>aa</t></si><si><r><t>b</t></r><r><t>c</t></r></si></sst>")
    assert(shared == IndexedSeq("aa", "bc"))
    val sheet = "<worksheet><sheetData>" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
      """<row r="2"><c r="A2" t="inlineStr"><is><t>inline text</t></is></c></row>""" +
      """<row r="3"><c r="A3"><v>42.5</v></c></row>""" +
      "</sheetData></worksheet>"
    assert(OoxmlExtractor.extractSheet(sheet, shared) == "aa\tbc\ninline text\n42.5")
  }

  test("a non-shared <v> value is entity-decoded (formula-string cell)") {
    val sheet = "<worksheet><sheetData>" +
      """<row r="1"><c r="A1" t="str"><f>CONCAT("A","&amp;B")</f><v>A&amp;B &lt;x&gt;</v></c>""" +
      """<c r="B1"><v>3</v></c></row>""" +
      "</sheetData></worksheet>"
    assert(OoxmlExtractor.extractSheet(sheet, IndexedSeq.empty) == "A&B <x>\t3")
  }

  test("blank cells keep their column slot so later cells stay tab-aligned") {
    val shared = IndexedSeq("x", "y")
    // real spreadsheets encode blanks as <c r="B1"/> (self-closing, often
    // with a style attr) or <c></c>; both must emit an EMPTY cell
    val sheet = "<worksheet><sheetData>" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" s="2"/><c r="C1" t="s"><v>1</v></c></row>""" +
      """<row r="2"><c r="A2"></c><c r="B2"><v>7</v></c></row>""" +
      """<row r="3"><c/></row>""" +
      "</sheetData></worksheet>"
    assert(OoxmlExtractor.extractSheet(sheet, shared) == "x\t\ty\n\t7\n")
  }

  test("pptx writer round-trip is byte-identical for every variant") {
    for (v <- 0 until PptxWriter.numVariants) {
      val bytes = PptxWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "docx") // ooxml container token
      val (kind, got) = OoxmlExtractor.extract(bytes)
      assert(kind == "pptx", s"variant $v kind=$kind")
      val want = paras.mkString("\n")
      assert(got.getBytes(StandardCharsets.UTF_8)
        .sameElements(want.getBytes(StandardCharsets.UTF_8)),
        s"variant $v:\n--- got ---\n$got\n--- want ---\n$want")
    }
  }

  test("pptx empty paragraphs keep their lines, a leading one and a slide of one included") {
    for (v <- 0 until PptxWriter.numVariants; paras <- Seq(Seq("", "a"), Seq("a", "", "b"))) {
      val (_, got) = OoxmlExtractor.extract(PptxWriter.generate(paras, v))
      assert(got == paras.mkString("\n"), s"variant $v: ${got.replace("\n", "\\n")}")
    }
  }

  test("pptx numeric slide order beats archive/lexicographic order") {
    val many = (1 to 12).map(i => s"slide number $i content").toVector
    val (_, got) = OoxmlExtractor.extract(PptxWriter.generate(many, 3))
    assert(got == many.mkString("\n")) // slide10 must come after slide9
  }

  test("xlsx writer round-trip matches the per-variant expected text") {
    for (v <- 0 until XlsxWriter.numVariants) {
      val bytes = XlsxWriter.generate(paras, v)
      val (kind, got) = OoxmlExtractor.extract(bytes)
      assert(kind == "xlsx", s"variant $v kind=$kind")
      val want = XlsxWriter.expectedText(paras, v)
      assert(got == want, s"variant $v:\n--- got ---\n$got\n--- want ---\n$want")
    }
  }

  test("xlsx shared strings are deduplicated and still resolve") {
    val repeated = Vector("same words here", "same words here", "different")
    val bytes = XlsxWriter.generate(repeated, 0)
    val sst = graft.util.ZipReader(bytes).read("xl/sharedStrings.xml").get
    assert(new String(sst, StandardCharsets.UTF_8).split("<si>").length - 1 == 2)
    assert(OoxmlExtractor.extract(bytes)._2 == repeated.mkString("\n"))
  }

  test("extractOne refines format_from by package content") {
    for ((bytes, kind) <- Seq(
      PptxWriter.generate(paras, 0) -> "pptx",
      XlsxWriter.generate(paras, 0) -> "xlsx",
      graft.serialize.DocxWriter.generate(paras, 0) -> "docx")) {
      val page = graft.model.WebPage("u", new java.sql.Timestamp(0), bytes, "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(r.success && r.format_from == kind, s"$kind: $r")
    }
  }

  test("degenerate packages (wrong marker parts, truncation) become failure rows") {
    val noMarker = graft.serialize.OoxmlZip.write(Seq("hello.txt" -> "hi"), store = false)
    val truncated = PptxWriter.generate(paras, 0).take(60).toArray
    for ((bytes, i) <- Seq(noMarker, truncated).zipWithIndex) {
      val page = graft.model.WebPage(s"u$i", new java.sql.Timestamp(0), bytes, "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(!r.success && r.error.nonEmpty, s"case $i: $r")
    }
  }
}
