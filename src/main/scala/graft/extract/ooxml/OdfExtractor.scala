package graft.extract.ooxml

import java.nio.charset.StandardCharsets

import graft.util.XmlAttr.attr

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

  /** Kind of a flat document: the office:mimetype root attribute, with a
    * body-element fallback for files that omit it. */
  def flatKind(xml: String): Option[String] = {
    val rootAt = xml.indexOf("<office:document")
    if (rootAt < 0) return None
    val close = xml.indexOf('>', rootAt)
    if (close < 0) return None
    val tag = xml.substring(rootAt + 1, close)
    attr(tag, "office:mimetype").flatMap(baseKinds.get).map("f" + _)
      .orElse {
        if (xml.contains("<office:spreadsheet")) Some("fods")
        else if (xml.contains("<office:presentation")) Some("fodp")
        else if (xml.contains("<office:text")) Some("fodt")
        else None
      }
  }

  /** All `text:p` paragraphs in document order, joined by "\n". */
  def extractParagraphs(xml: String): String = {
    val out = new StringBuilder
    scan(xml,
      onParagraph = p => {
        if (out.nonEmpty) out.append('\n')
        out.append(p)
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
    * fires the row/cell callbacks on table boundaries. Entities decode via
    * the shared XML entity table. */
  private def scan(xml: String, onParagraph: String => Unit,
                   onCellEnd: () => Unit, onRowEnd: () => Unit): Unit = {
    val para = new StringBuilder
    var pDepth = 0 // text:p may nest via spans; only the outer one delimits
    var i = 0
    val n = xml.length
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        val close = xml.indexOf('>', i)
        if (close < 0) { i = n }
        else {
          val tag = xml.substring(i + 1, close)
          def is(name: String): Boolean =
            tag.startsWith(name) &&
              (tag.length == name.length || !isNameChar(tag.charAt(name.length)))
          if (is("text:p")) {
            if (tag.endsWith("/")) { if (pDepth == 0) onParagraph("") }
            else pDepth += 1
          } else if (tag == "/text:p") {
            pDepth -= 1
            if (pDepth == 0) { onParagraph(para.toString); para.setLength(0) }
          } else if (pDepth > 0 && is("text:s")) {
            val count = attr(tag, "text:c").map(_.toInt).getOrElse(1)
            para.append(" " * count)
          } else if (pDepth > 0 && is("text:tab")) {
            para.append('\t')
          } else if (pDepth > 0 && is("text:line-break")) {
            para.append('\n')
          } else if (tag == "/table:table-cell") {
            onCellEnd()
          } else if (is("table:table-cell") && tag.endsWith("/")) {
            onCellEnd() // empty covered/blank cell
          } else if (tag == "/table:table-row") {
            onRowEnd()
          }
          i = close + 1
        }
      } else if (pDepth > 0) {
        if (c == '&') {
          val semi = xml.indexOf(';', i)
          if (semi > 0 && semi - i <= 12) {
            para.append(decodeEntity(xml.substring(i + 1, semi)))
            i = semi + 1
          } else { para.append('&'); i += 1 }
        } else { para.append(c); i += 1 }
      } else i += 1
    }
  }

  private def isNameChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == ':' || c == '-' || c == '_' || c == '.'

  private def decodeEntity(name: String): String = name match {
    case "amp" => "&"
    case "lt" => "<"
    case "gt" => ">"
    case "quot" => "\""
    case "apos" => "'"
    case _ if name.startsWith("#x") || name.startsWith("#X") =>
      try new String(Character.toChars(Integer.parseInt(name.drop(2), 16)))
      catch { case _: Exception => "&" + name + ";" }
    case _ if name.startsWith("#") =>
      try new String(Character.toChars(Integer.parseInt(name.drop(1))))
      catch { case _: Exception => "&" + name + ";" }
    case _ => "&" + name + ";"
  }
}
