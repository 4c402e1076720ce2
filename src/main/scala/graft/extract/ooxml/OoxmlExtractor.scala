package graft.extract.ooxml

import java.nio.charset.StandardCharsets

import graft.extract.docx.DocxExtractor

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

  /** Identify the OOXML kind by package content (docx | pptx | xlsx) —
    * entry-name enumeration only, nothing inflated. */
  def sniffKind(zipBytes: Array[Byte]): Option[String] = {
    val names = DocxExtractor.entryNames(zipBytes)
    if (names.contains("word/document.xml")) Some("docx")
    else if (names.contains("ppt/presentation.xml")) Some("pptx")
    else if (names.contains("xl/workbook.xml")) Some("xlsx")
    else None
  }

  /** Every part any container kind can need — the predicate of the ONE
    * streaming pass [[extract]] makes. */
  private def isDispatchPart(name: String): Boolean =
    name == "mimetype" || name == "word/document.xml" ||
      name == "ppt/presentation.xml" || name == "xl/workbook.xml" ||
      name == "xl/sharedStrings.xml" || name == "content.xml" ||
      slideName.pattern.matcher(name).matches() ||
      sheetName.pattern.matcher(name).matches()

  /** Dispatch on package content; returns (kind, text). ODF packages
    * (odt/odp/ods) and EPUBs share the zip magic but declare themselves in
    * a `mimetype` entry. Everything happens in ONE streaming pass over the
    * archive: java.util.zip inflates every entry it merely skips, so a
    * separate sniff/enumeration pass would DOUBLE the per-document
    * inflation work (and Inflater churn) at scale — the kind decision is
    * made from the collected parts instead. EPUB is the one exception
    * (chapter names are only known after reading the OPF) and takes its
    * own passes. */
  def extract(zipBytes: Array[Byte]): (String, String) = {
    val parts = DocxExtractor.readParts(zipBytes, isDispatchPart)
    def part(name: String): Option[Array[Byte]] =
      parts.collectFirst { case (n, b) if n == name => b }
    if (part("word/document.xml").isDefined)
      ("docx", DocxExtractor.extractDocumentXml(
        new String(part("word/document.xml").get, StandardCharsets.UTF_8)))
    else if (part("ppt/presentation.xml").isDefined) ("pptx", pptxFromParts(parts))
    else if (part("xl/workbook.xml").isDefined) ("xlsx", xlsxFromParts(parts))
    else {
      val mime = part("mimetype").map(b => new String(b, StandardCharsets.UTF_8).trim)
      mime.flatMap(OdfExtractor.kindOfMimetype) match {
        case Some(odfKind) =>
          val xml = part("content.xml")
            .map(new String(_, StandardCharsets.UTF_8))
            .getOrElse(throw new IllegalArgumentException("ODF package has no content.xml"))
          (odfKind, OdfExtractor.extractContent(xml, odfKind))
        case None if mime.contains(graft.extract.epub.EpubExtractor.mimetype) =>
          ("epub", graft.extract.epub.EpubExtractor.extract(zipBytes))
        case _ => throw new IllegalArgumentException(
          "zip is not a recognized OOXML/ODF/EPUB package (no word/document.xml, " +
            "ppt/presentation.xml, xl/workbook.xml, or known mimetype)")
      }
    }
  }

  private val slideName = "^ppt/slides/slide([0-9]+)\\.xml$".r

  private def pptxFromParts(parts: Seq[(String, Array[Byte])]): String = {
    val slides = parts.collect {
      case (name, bytes) if slideName.pattern.matcher(name).matches() =>
        val slideName(num) = name: @unchecked
        (num.toInt, new String(bytes, StandardCharsets.UTF_8))
    }.sortBy(_._1) // numeric slide order, not archive or lexicographic order
    require(slides.nonEmpty, "pptx has no ppt/slides/slideN.xml parts")
    slides.map { case (_, xml) => DocxExtractor.extractRuns(xml, "a:p", "a:t") }
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  private val sheetName = "^xl/worksheets/sheet([0-9]+)\\.xml$".r

  private def xlsxFromParts(parts: Seq[(String, Array[Byte])]): String = {
    val shared: IndexedSeq[String] = parts.collectFirst {
      case ("xl/sharedStrings.xml", bytes) =>
        parseSharedStrings(new String(bytes, StandardCharsets.UTF_8))
    }.getOrElse(IndexedSeq.empty)
    val sheets = parts.collect {
      case (name, bytes) if sheetName.pattern.matcher(name).matches() =>
        val sheetName(num) = name: @unchecked
        (num.toInt, new String(bytes, StandardCharsets.UTF_8))
    }.sortBy(_._1)
    require(sheets.nonEmpty, "xlsx has no xl/worksheets/sheetN.xml parts")
    sheets.map { case (_, xml) => extractSheet(xml, shared) }
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
