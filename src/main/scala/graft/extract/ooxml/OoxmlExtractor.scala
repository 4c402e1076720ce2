package graft.extract.ooxml

import java.nio.charset.StandardCharsets

import graft.extract.Extractor
import graft.extract.docx.DocxExtractor
import graft.extract.epub.EpubExtractor
import graft.util.{XmlCursor, ZipReader}

/** OOXML container dispatch + the PPTX/XLSX text kernels — the remaining
  * Office flagship inputs of the reference's conversion whitelist
  * (/root/reference/src/converters/document_converters.py:16-26: .docx,
  * .pptx, .xlsx all route through LibreOffice; here each gets a pure-JVM
  * executor-local path).
  *
  * All three share the zip magic, so routing is by PACKAGE CONTENT:
  * `word/document.xml` → docx, `ppt/presentation.xml` → pptx,
  * `xl/workbook.xml` → xlsx. Text semantics:
  *  - pptx: slides in numeric order, each slide's DrawingML paragraphs
  *    (`<a:p>`/`<a:t>` — same grammar as WordprocessingML, scanned by the
  *    shared run scanner), all joined by "\n";
  *  - xlsx: worksheet rows in order; a cell's text comes from the shared
  *    string table (`t="s"` + `<v>index</v>`) or an inline string
  *    (`<is><t>`); cells within a row join by "\t", rows by "\n".
  */
object OoxmlExtractor {

  /** The OOXML kind (docx | pptx | xlsx) by package content: the index's
    * entry names alone, nothing inflated. */
  def ooxmlKind(zip: ZipReader): Option[String] =
    if (zip.contains("word/document.xml")) Some("docx")
    else if (zip.contains("ppt/presentation.xml")) Some("pptx")
    else if (zip.contains("xl/workbook.xml")) Some("xlsx")
    else None

  def extract(zipBytes: Array[Byte]): (String, String) = extract(ZipReader(zipBytes))

  /** Dispatch on package content; returns (kind, text). OOXML kinds route
    * by entry name; ODF packages (odt/odp/ods) and EPUBs share the zip
    * magic but declare themselves in a `mimetype` entry. The one reader
    * serves the whole document: each kernel inflates only the parts it
    * needs, once each, under one per-document total. A failure after the
    * kind is known is thrown as [[graft.extract.Extractor.KindFailure]], so
    * its row carries that kind. */
  def extract(zip: ZipReader): (String, String) = {
    val kind = ooxmlKind(zip).orElse {
      val mime = zip.read("mimetype").map(utf8(_).trim)
      mime.flatMap(OdfExtractor.kindOfMimetype)
        .orElse(mime.filter(_ == EpubExtractor.mimetype).map(_ => "epub"))
    }.getOrElse(throw new IllegalArgumentException(
      "zip is not a recognized OOXML/ODF/EPUB package (no word/document.xml, " +
        "ppt/presentation.xml, xl/workbook.xml, or known mimetype)"))
    (kind, Extractor.failingAs(kind) {
      kind match {
        case "docx" => DocxExtractor.extractDocumentXml(utf8(zip.read("word/document.xml").get))
        case "pptx" => pptx(zip)
        case "xlsx" => xlsx(zip)
        case "epub" => EpubExtractor.extract(zip)
        case odf =>
          val xml = zip.read("content.xml").map(utf8)
            .getOrElse(throw new IllegalArgumentException("ODF package has no content.xml"))
          OdfExtractor.extractContent(xml, odf)
      }
    })
  }

  private def utf8(b: Array[Byte]): String = new String(b, StandardCharsets.UTF_8)

  /** The XML of the parts whose names match `pattern`, in the numeric order
    * of its one group (not archive or lexicographic order). */
  private def numbered(zip: ZipReader, pattern: scala.util.matching.Regex): Seq[String] =
    zip.names.collect {
      case name @ pattern(num) => (num.toInt, name)
    }.toSeq.sortBy(_._1).map { case (_, name) => utf8(zip.read(name).get) }

  private val slideName = "^ppt/slides/slide([0-9]+)\\.xml$".r

  private def pptx(zip: ZipReader): String = {
    val slides = numbered(zip, slideName)
    require(slides.nonEmpty, "pptx has no ppt/slides/slideN.xml parts")
    DocxExtractor.extractRuns(slides, "a:p", "a:t")
  }

  private val sheetName = "^xl/worksheets/sheet([0-9]+)\\.xml$".r

  private def xlsx(zip: ZipReader): String = {
    val shared: IndexedSeq[String] = zip.read("xl/sharedStrings.xml")
      .map(b => parseSharedStrings(utf8(b))).getOrElse(IndexedSeq.empty)
    val sheets = numbered(zip, sheetName)
    require(sheets.nonEmpty, "xlsx has no xl/worksheets/sheetN.xml parts")
    sheets.map(extractSheet(_, shared))
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  /** `<si>` items of the shared-string table; each item's text is the join
    * of its `<t>` runs (plain `<si><t>` or rich `<si><r><t>`). */
  def parseSharedStrings(xml: String): IndexedSeq[String] = {
    val items = IndexedSeq.newBuilder[String]
    val item = new java.lang.StringBuilder
    val c = new XmlCursor(xml)
    while (c.next()) if (c.isOpen("si")) {
      item.setLength(0)
      if (!c.selfClosing) richText(c, "si", item)
      items += item.toString
    }
    items.result()
  }

  /** Appends the `<t>` runs of a rich-text string (`<si>` or `<is>`, plain
    * or split into `<r>` runs) and leaves `c` on its `</end>` tag, or at the
    * end of the part when there is none. */
  private def richText(c: XmlCursor, end: String, out: java.lang.StringBuilder): Unit = {
    var inT = false
    while (c.next()) {
      if (inT) c.appendText(out)
      if (c.isClose(end)) return
      if (c.isOpen("t")) inT = !c.selfClosing
      else if (c.isClose("t")) inT = false
    }
  }

  /** One worksheet: rows -> lines; cells -> tab-joined. Cell value is the
    * shared-string lookup for `t="s"`, the inline `<is><t>` text, or the
    * entity-decoded `<v>` text otherwise (numbers stay as written).
    * Valueless cells (`<c r="B2"/>` or `<c></c>` — how real spreadsheets
    * encode blanks) contribute an EMPTY string, preserving the tab-join
    * column alignment of later cells in the row. */
  def extractSheet(xml: String, shared: IndexedSeq[String]): String = {
    val out = new java.lang.StringBuilder
    val row = new java.lang.StringBuilder
    val value = new java.lang.StringBuilder
    var rows = 0
    var cells = 0
    var inRow = false
    var inV = false
    var cellType: Option[String] = None
    var cellEmitted = true // no cell open yet

    def cell(text: CharSequence): Unit = if (inRow) {
      if (cells > 0) row.append('\t')
      row.append(text)
      cells += 1
    }

    val c = new XmlCursor(xml)
    while (c.next()) {
      if (inV) c.appendText(value)
      if (c.isOpen("row")) { inRow = true; row.setLength(0); cells = 0 }
      else if (c.isClose("row")) {
        if (inRow) {
          if (rows > 0) out.append('\n')
          out.append(row)
          rows += 1
        }
        inRow = false
      } else if (c.isOpen("c")) {
        if (c.selfClosing) cell("") // self-closing blank cell
        else { cellType = c.attr("t"); cellEmitted = false }
      } else if (c.isClose("c")) {
        if (!cellEmitted) cell("") // open/close pair, no value
        cellEmitted = true
      } else if (c.isOpen("v")) {
        inV = !c.selfClosing
        value.setLength(0)
      } else if (c.isClose("v") && inV) {
        inV = false
        if (cellType.contains("s")) {
          val idx = value.toString.trim.toInt
          require(idx >= 0 && idx < shared.length, s"shared string $idx out of range")
          cell(shared(idx))
        } else cell(value)
        cellEmitted = true
      } else if (c.isOpen("is") && !c.selfClosing && cellType.contains("inlineStr")) {
        value.setLength(0)
        richText(c, "is", value)
        cell(value)
        cellEmitted = true
      }
    }
    out.toString
  }
}
