package graft.extract.ooxml

import java.nio.charset.StandardCharsets

import graft.util.{Inflate, XmlCursor}

/** OpenDocument (ODF) text kernels — the reference whitelist's .odt/.odp/
  * .ods family (/root/reference/src/converters/document_converters.py:16-26).
  * An ODF package is a zip whose text lives in `content.xml`; the kind is
  * declared by the `mimetype` entry. Unlike OOXML there is no dedicated
  * run-text element: character data sits DIRECTLY inside `<text:p>` (and
  * nested `<text:span>`), with whitespace elements `<text:s/>` (space,
  * text:c repeat count), `<text:tab/>` and `<text:line-break/>`.
  *
  * Text semantics: odt/odp — `text:p` paragraphs in document order joined
  * by "\n" (odp slides contribute their paragraphs in slide order);
  * ods — `table:table-row` rows joined by "\n", cells joined by "\t",
  * a cell's paragraphs joined by " ".
  */
object OdfExtractor {

  /** The three base document kinds — also the only kinds the flat-ODF
    * (.fodt/.fodp/.fods) whitelist can carry. */
  private val baseKinds = Map(
    "application/vnd.oasis.opendocument.text" -> "odt",
    "application/vnd.oasis.opendocument.presentation" -> "odp",
    "application/vnd.oasis.opendocument.spreadsheet" -> "ods")

  /** Full packaged-kind map. Beyond the base three, the reference whitelist
    * (/root/reference/src/converters/document_converters.py:16-26) also
    * admits the ODF TEMPLATE kinds (.ott/.otp/.ots — same content.xml
    * grammar, template mimetype) and StarOffice/OpenOffice-1.x Writer
    * (.sxw — same `text:p` element names under the legacy
    * `http://openoffice.org/2000/...` namespace URIs; the scanner matches
    * prefixes, not URIs, so the one kernel covers both generations). */
  private val kinds = baseKinds ++ Map(
    "application/vnd.oasis.opendocument.text-template" -> "ott",
    "application/vnd.oasis.opendocument.presentation-template" -> "otp",
    "application/vnd.oasis.opendocument.spreadsheet-template" -> "ots",
    "application/vnd.sun.xml.writer" -> "sxw")

  def kindOfMimetype(mime: String): Option[String] = kinds.get(mime)

  /** Extraction over the package's content XML, once the dispatcher has
    * read the kind from its `mimetype` entry. */
  def extractContent(xml: String, kind: String): String =
    if (kind == "ods" || kind == "ots") extractSpreadsheet(xml)
    else extractParagraphs(xml)

  /** Flat-ODF (.fodt/.fodp/.fods — whitelisted inputs,
    * /root/reference/src/converters/document_converters.py:21): the whole
    * document is ONE XML file whose root `office:document` declares the
    * package mimetype as an `office:mimetype` attribute, and whose body uses
    * the exact content.xml grammar — so the same scanner runs over the whole
    * payload. Returns (fodt|fodp|fods, text). */
  def extractFlat(bytes: Array[Byte]): (String, String) = {
    val xml = new String(bytes, StandardCharsets.UTF_8)
    val kind = flatKind(xml).getOrElse(throw new IllegalArgumentException(
      "flat-ODF payload has no recognized office:mimetype or body element"))
    val text = if (kind == "fods") extractSpreadsheet(xml) else extractParagraphs(xml)
    (kind, text)
  }

  /** Kind of a flat document: the office:mimetype attribute of its
    * `office:document` root, with a body-element fallback for files that
    * omit it. */
  def flatKind(xml: String): Option[String] = {
    val c = new XmlCursor(xml)
    while (c.next()) if (c.isOpen("office:document")) {
      return c.attr("office:mimetype").flatMap(baseKinds.get).map("f" + _)
        .orElse {
          if (xml.contains("<office:spreadsheet")) Some("fods")
          else if (xml.contains("<office:presentation")) Some("fodp")
          else if (xml.contains("<office:text")) Some("fodt")
          else None
        }
    }
    None
  }

  /** All `text:p` paragraphs in document order, joined by "\n". */
  def extractParagraphs(xml: String): String = {
    val out = new StringBuilder
    var emitted = false
    scan(xml,
      onParagraph = p => {
        if (emitted) out.append('\n')
        out.append(p)
        emitted = true
      },
      onRowEnd = () => (), onCellEnd = () => ())
    out.toString
  }

  /** Spreadsheet content: rows -> "\n", cells -> "\t", cell paragraphs -> " ". */
  def extractSpreadsheet(xml: String): String = {
    val rows = Vector.newBuilder[String]
    var cells = Vector.newBuilder[String]
    var cellParas = Vector.newBuilder[String]
    scan(xml,
      onParagraph = p => cellParas += p,
      onCellEnd = () => {
        val ps = cellParas.result()
        if (ps.nonEmpty) cells += ps.mkString(" ")
        cellParas = Vector.newBuilder[String]
      },
      onRowEnd = () => {
        rows += cells.result().mkString("\t")
        cells = Vector.newBuilder[String]
      })
    rows.result().filter(_.nonEmpty).mkString("\n")
  }

  /** Single pass over content.xml. Captures character data inside text:p
    * (at any span depth), expands text:s / text:tab / text:line-break, and
    * fires the row/cell callbacks on table boundaries. The spaces text:s
    * expands to are capped per document at `Inflate.maxStreamBytes`. */
  private def scan(xml: String, onParagraph: String => Unit,
                   onCellEnd: () => Unit, onRowEnd: () => Unit): Unit = {
    val para = new java.lang.StringBuilder
    var pDepth = 0 // text:p may nest via spans; only the outer one delimits
    var spaces = 0 // expanded by text:s so far; one short tag may ask for 2^31 - 1
    val c = new XmlCursor(xml)
    while (c.next()) {
      if (pDepth > 0) c.appendText(para)
      if (c.isOpen("text:p")) {
        if (!c.selfClosing) pDepth += 1
        else if (pDepth == 0) onParagraph("")
      } else if (c.isClose("text:p")) {
        pDepth -= 1
        if (pDepth == 0) { onParagraph(para.toString); para.setLength(0) }
      } else if (pDepth > 0 && c.isOpen("text:s")) {
        val count = c.attr("text:c").map(_.toInt).getOrElse(1)
        require(count <= Inflate.maxStreamBytes - spaces,
          s"ODF text:s runs expand past ${Inflate.maxStreamBytes} spaces")
        if (count > 0) { spaces += count; for (_ <- 0 until count) para.append(' ') }
      } else if (pDepth > 0 && c.isOpen("text:tab")) {
        para.append('\t')
      } else if (pDepth > 0 && c.isOpen("text:line-break")) {
        para.append('\n')
      } else if (c.isClose("table:table-cell") ||
                 (c.isOpen("table:table-cell") && c.selfClosing)) {
        onCellEnd() // a self-closing cell is an empty covered/blank cell
      } else if (c.isClose("table:table-row")) {
        onRowEnd()
      }
    }
  }
}
