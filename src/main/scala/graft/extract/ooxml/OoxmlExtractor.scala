package graft.extract.ooxml

import java.nio.charset.StandardCharsets

import graft.extract.docx.DocxExtractor
import graft.extract.epub.EpubExtractor
import graft.util.ZipReader

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
    * needs, once each, under one per-document total. */
  def extract(zip: ZipReader): (String, String) = ooxmlKind(zip) match {
    case Some("docx") =>
      ("docx", DocxExtractor.extractDocumentXml(utf8(zip.read("word/document.xml").get)))
    case Some("pptx") => ("pptx", pptx(zip))
    case Some(_) => ("xlsx", xlsx(zip))
    case None =>
      val mime = zip.read("mimetype").map(utf8(_).trim)
      mime.flatMap(OdfExtractor.kindOfMimetype) match {
        case Some(odfKind) =>
          val xml = zip.read("content.xml").map(utf8)
            .getOrElse(throw new IllegalArgumentException("ODF package has no content.xml"))
          (odfKind, OdfExtractor.extractContent(xml, odfKind))
        case None if mime.contains(EpubExtractor.mimetype) => ("epub", EpubExtractor.extract(zip))
        case _ => throw new IllegalArgumentException(
          "zip is not a recognized OOXML/ODF/EPUB package (no word/document.xml, " +
            "ppt/presentation.xml, xl/workbook.xml, or known mimetype)")
      }
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
    slides.map(DocxExtractor.extractRuns(_, "a:p", "a:t"))
      .filter(_.nonEmpty)
      .mkString("\n")
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
    var i = 0
    while (true) {
      val start = xml.indexOf("<si>", i)
      if (start < 0) return items.result()
      val end = xml.indexOf("</si>", start)
      val body = if (end < 0) xml.substring(start) else xml.substring(start, end)
      // reuse the run scanner with a never-matching paragraph tag: the final
      // (unterminated) paragraph is flushed by the artificial close below
      items += DocxExtractor.extractRuns(body + "</zz:never>", "zz:never", "t")
      i = if (end < 0) xml.length else end + 5
      if (i >= xml.length) return items.result()
    }
    items.result()
  }

  /** One worksheet: rows -> lines; cells -> tab-joined. Cell value is the
    * shared-string lookup for `t="s"`, the inline `<is><t>` text, or the
    * raw `<v>` body otherwise (numbers stay as written). Valueless cells
    * (`<c r="B2"/>` or `<c></c>` — how real spreadsheets encode blanks)
    * contribute an EMPTY string, preserving the tab-join column alignment
    * of later cells in the row. */
  def extractSheet(xml: String, shared: IndexedSeq[String]): String = {
    val rows = Vector.newBuilder[String]
    var i = 0
    val n = xml.length
    var cells = Vector.newBuilder[String]
    var inRow = false
    var cellIsShared = false
    var cellIsInline = false
    var cellEmitted = true // no cell open yet
    while (i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = n }
      else {
        val close = xml.indexOf('>', lt)
        if (close < 0) { i = n }
        else {
          val tag = xml.substring(lt + 1, close)
          if (tag.startsWith("row")) { inRow = true; cells = Vector.newBuilder[String] }
          else if (tag == "/row") {
            if (inRow) rows += cells.result().mkString("\t")
            inRow = false
          } else if (tag == "c/" || (tag.startsWith("c ") && tag.endsWith("/"))) {
            if (inRow) cells += "" // self-closing blank cell
          } else if (tag.startsWith("c ") || tag == "c") {
            cellIsShared = tag.contains("t=\"s\"")
            cellIsInline = tag.contains("t=\"inlineStr\"")
            cellEmitted = false
          } else if (tag == "/c") {
            if (inRow && !cellEmitted) cells += "" // open/close pair, no value
            cellEmitted = true
          } else if (tag.startsWith("v") && !tag.startsWith("v/") && tag.length <= 1) {
            val vEnd = xml.indexOf("</v>", close)
            if (vEnd > 0) {
              val raw = xml.substring(close + 1, vEnd)
              cells += (if (cellIsShared) {
                val idx = raw.trim.toInt
                require(idx >= 0 && idx < shared.length, s"shared string $idx out of range")
                shared(idx)
              } else raw)
              cellEmitted = true
              i = vEnd + 4
            }
          } else if (tag.startsWith("is") && (tag.length == 2 || !tag.charAt(2).isLetter)) {
            val isEnd = xml.indexOf("</is>", close)
            if (isEnd > 0 && cellIsInline) {
              cells += DocxExtractor.extractRuns(
                xml.substring(close + 1, isEnd) + "</zz:never>", "zz:never", "t")
              cellEmitted = true
              i = isEnd + 5
            }
          }
          if (i <= close) i = close + 1
        }
      }
    }
    rows.result().mkString("\n")
  }
}
