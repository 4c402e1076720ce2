package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.serialize.OoxmlZip
import graft.util.XmlCursor

/** The office kernels' one XML tag cursor: name boundaries, attributes,
  * the entity decoder, truncation; and the container kinds that failure
  * rows carry once a package's kind is known. */
class XmlCursorSpec extends AnyFunSuite {

  private def decoded(s: String): String = {
    val out = new java.lang.StringBuilder
    XmlCursor.decode(s, 0, s.length, out)
    out.toString
  }

  /** (tag shape, matched name) of every tag, in order. */
  private def walk(xml: String, names: Seq[String]): Seq[String] = {
    val c = new XmlCursor(xml)
    val out = Seq.newBuilder[String]
    while (c.next()) names.foreach { n =>
      if (c.isOpen(n)) out += (if (c.selfClosing) s"<$n/>" else s"<$n>")
      if (c.isClose(n)) out += s"</$n>"
    }
    out.result()
  }

  test("the five predefined entities and numeric references decode") {
    assert(decoded("a &amp; b &lt;c&gt; &quot;d&quot; &apos;e&apos;") == "a & b <c> \"d\" 'e'")
    assert(decoded("&#65;&#x42;&#X43;&#x1F600;&#0128512;") == "ABC😀😀")
  }

  test("unknown, malformed, overlong or unended references stay literal") {
    for (s <- Seq("&", "a & b", "&nbsp;", "&#;", "&#x;", "&#xZ1;", "&#+65;", "&#-1;",
                  "&#x110000;", "&#99999999999;", "&amp", "&#0000000000065;", "&&amp;"))
      assert(decoded(s) == (if (s == "&&amp;") "&&" else s), s)
    // the reference must end inside the decoded range
    val out = new java.lang.StringBuilder
    XmlCursor.decode("x&amp;", 0, 5, out)
    assert(out.toString == "x&amp")
  }

  test("names match in place up to a name boundary") {
    val xml = "<w:p><w:tab/><w:t>x</w:t><w:t/><w:tbl></w:tb><w:t-x><itemref/><item id='1'>"
    assert(walk(xml, Seq("w:t", "w:p", "item")) ==
      Seq("<w:p>", "<w:t>", "</w:t>", "<w:t/>", "<item>"))
  }

  test("attributes: either quote, spaces around '=', whole names only") {
    val c = new XmlCursor("""<c r="A1" xt="no" t = 's' s="t=&quot;x" empty="" cut="a>""")
    assert(c.next())
    assert(c.attr("t").contains("s"))
    assert(c.attr("r").contains("A1"))
    assert(c.attr("s").contains("t=&quot;x"))
    assert(c.attr("empty").contains(""))
    assert(c.attr("x").isEmpty && c.attr("c").isEmpty && c.attr("cut").isEmpty)
  }

  test("text between tags decodes into the caller's builder; a cut tag ends the scan") {
    val c = new XmlCursor("<a>one &amp; two<b/>three<c")
    val out = new java.lang.StringBuilder
    assert(c.next() && c.isOpen("a"))
    assert(c.next() && c.isOpen("b") && c.selfClosing)
    c.appendText(out)
    assert(out.toString == "one & two")
    assert(!c.next() && !c.next())
    assert(!c.isOpen("c") && !c.isClose("c") && !c.selfClosing)
  }

  test("a container failure after the kind is known carries that kind") {
    val epubContainer = """<container><rootfiles><rootfile full-path="OEBPS/content.opf"/></rootfiles></container>"""
    val cases = Seq(
      "pptx" -> Seq("ppt/presentation.xml" -> "<p:presentation/>"),
      "epub" -> Seq("mimetype" -> "application/epub+zip", "META-INF/container.xml" -> epubContainer,
        "OEBPS/content.opf" -> "<package><manifest/><spine/></package>"),
      "odt" -> Seq("mimetype" -> "application/vnd.oasis.opendocument.text"),
      "xlsx" -> Seq("xl/workbook.xml" -> "<workbook/>",
        "xl/sharedStrings.xml" -> "<sst><si><t>a</t></si></sst>",
        "xl/worksheets/sheet1.xml" -> """<worksheet><sheetData><row><c t="s"><v>5</v></c></row></sheetData></worksheet>"""))
    val errors = Map(
      "pptx" -> "IllegalArgumentException: requirement failed: pptx has no ppt/slides/slideN.xml parts",
      "epub" -> ("IllegalArgumentException: requirement failed: epub has no spine-referenced " +
        "xhtml chapters (and no OEBPS/chapterN.xhtml fallback)"),
      "odt" -> "IllegalArgumentException: ODF package has no content.xml",
      "xlsx" -> "IllegalArgumentException: requirement failed: shared string 5 out of range")
    for ((kind, parts) <- cases) {
      val page = graft.model.WebPage(s"u-$kind", new java.sql.Timestamp(0),
        OoxmlZip.write(parts, store = false), "", "en")
      val r = Extractor.extractOne(page, 0)
      assert(!r.success && r.format_from == kind && r.error == errors(kind), s"$kind: $r")
    }
  }
}
