package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.ooxml.OdfExtractor
import graft.serialize.OdfWriter

/** ODF kernels (odt/odp/ods): hand-authored content.xml fixtures, writer
  * round-trips over all variants, kind refinement, degenerates. */
class OdfSpec extends AnyFunSuite {

  private val paras = Vector(
    "alpha bravo charlie delta echo foxtrot",
    "golf hotel india juliet kilo",
    "lima mike november oscar papa quebec romeo sierra")

  test("hand-authored: spans flatten, text:s/text:tab/line-break expand, entities decode") {
    val xml = "<office:body><office:text>" +
      "<text:p>one<text:span> two</text:span><text:s/>three</text:p>" +
      "<text:p>a<text:s text:c=\"3\"/>b<text:tab/>c<text:line-break/>d &amp; e</text:p>" +
      "<text:p/>" +
      "</office:text></office:body>"
    assert(OdfExtractor.extractParagraphs(xml) ==
      "one two three\na   b\tc\nd & e\n")
  }

  test("a leading empty paragraph keeps its line, written or self-closed") {
    assert(OdfExtractor.extractParagraphs("<text:p/><text:p>a</text:p>") == "\na")
    assert(OdfExtractor.extractParagraphs("<text:p></text:p><text:p>a</text:p>") == "\na")
    for (kind <- Seq("odt", "odp"); v <- 0 to 2) {
      val (_, got) = graft.extract.ooxml.OoxmlExtractor.extract(OdfWriter.generate(kind, Seq("", "a"), v))
      assert(got == "\na", s"$kind variant $v: ${got.replace("\n", "\\n")}")
    }
  }

  test("hand-authored spreadsheet: cells tab-join, rows newline-join, empty cells skipped") {
    val xml = "<office:spreadsheet><table:table>" +
      "<table:table-row><table:table-cell><text:p>a1</text:p></table:table-cell>" +
      "<table:table-cell/><table:table-cell><text:p>c1</text:p></table:table-cell></table:table-row>" +
      "<table:table-row><table:table-cell><text:p>p1</text:p><text:p>p2</text:p></table:table-cell></table:table-row>" +
      "</table:table></office:spreadsheet>"
    assert(OdfExtractor.extractSpreadsheet(xml) == "a1\tc1\np1 p2")
  }

  private val allKinds = Seq("odt", "odp", "ods", "ott", "otp", "ots", "sxw")

  test("writer round-trip matches expected text for every kind x variant") {
    for (kind <- allKinds; v <- 0 until OdfWriter.numVariants) {
      val bytes = OdfWriter.generate(kind, paras, v)
      assert(Extractor.sniffFormat(bytes) == "docx") // shared zip token
      val (k, got) = graft.extract.ooxml.OoxmlExtractor.extract(bytes)
      assert(k == kind, s"$kind v$v refined as $k")
      val want = OdfWriter.expectedText(kind, paras, v)
      assert(got == want, s"$kind v$v:\n--- got ---\n$got\n--- want ---\n$want")
    }
  }

  test("extractOne reports the refined ODF kind") {
    for (kind <- allKinds) {
      val page = graft.model.WebPage(s"u-$kind", new java.sql.Timestamp(0),
        OdfWriter.generate(kind, paras, 0), "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(r.success && r.format_from == kind, s"$kind: $r")
    }
  }

  test("the sxw fixture really carries the legacy OOo-1.x namespace URIs") {
    val bytes = OdfWriter.generate("sxw", paras, 0)
    val xml = new String(
      graft.util.ZipReader(bytes).read("content.xml").get,
      java.nio.charset.StandardCharsets.UTF_8)
    assert(xml.contains("http://openoffice.org/2000/text"))
    assert(!xml.contains("urn:oasis:names"))
  }

  test("unknown mimetype or missing content.xml becomes a failure row") {
    val badMime = graft.serialize.OoxmlZip.write(
      Seq("mimetype" -> "application/x-unknown", "content.xml" -> "<x/>"), store = false)
    val noContent = graft.serialize.OoxmlZip.write(
      Seq("mimetype" -> "application/vnd.oasis.opendocument.text"), store = false)
    for ((bytes, i) <- Seq(badMime, noContent).zipWithIndex) {
      val page = graft.model.WebPage(s"u$i", new java.sql.Timestamp(0), bytes, "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(!r.success && r.error.nonEmpty, s"case $i: $r")
    }
  }

  test("a text:s count past the space cap is a named failure row, not an OOM (< 1 MiB allocated)") {
    def flat(body: String) = graft.model.WebPage("u-fodt", new java.sql.Timestamp(0),
      ("<office:document office:mimetype=\"application/vnd.oasis.opendocument.text\">" +
        s"<office:body><office:text>$body</office:text></office:body></office:document>")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "en")
    val bomb = flat("<text:p>a<text:s text:c=\"400000000\"/>b</text:p>")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    Extractor.extractOne(bomb, 0) // load classes outside the measurement
    val before = mx.getCurrentThreadAllocatedBytes
    val r = Extractor.extractOne(bomb, 0)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(!r.success && r.error ==
      "IllegalArgumentException: requirement failed: ODF text:s runs expand past 67108864 spaces", r)
    assert(allocated < (1L << 20), s"allocated $allocated bytes")
    // counts under the cap expand, negative ones expand to nothing, as before
    val ok = Extractor.extractOne(flat(
      "<text:p>a<text:s text:c=\"3\"/>b<text:s text:c=\"-2\"/>c</text:p>"), 0)
    assert(ok.success && ok.text == "a   bc", ok)
  }
}
