package graft.extract.docx

import java.nio.charset.StandardCharsets

import graft.util.ZipReader

/** DOCX → text kernel: unzip the OOXML package, scan `word/document.xml`,
  * and join each `<w:p>` paragraph's `<w:t>` text runs; paragraphs join
  * with "\n". Pure JVM, executor-local — replaces the reference's
  * LibreOffice subprocess for its flagship .docx input
  * (/root/reference/src/converters/document_converters.py:16-26, :100-111).
  *
  * Scope is pinned by the [[graft.serialize.DocxWriter]] fixture matrix
  * (runs with properties, mid-word splits with xml:space, tables, extra
  * package parts), per SURVEY §7.3's "keep the parser exactly as general as
  * the fixture generator". The XML scan is a single pass: only `w:p` /
  * `w:t` boundaries matter; every other element is skipped structurally.
  */
object DocxExtractor {

  def extract(docx: Array[Byte]): String = {
    val xml = ZipReader(docx).read("word/document.xml")
      .getOrElse(throw new IllegalArgumentException(
        "zip has no word/document.xml — not a DOCX package"))
    extractDocumentXml(new String(xml, StandardCharsets.UTF_8))
  }

  /** Single-pass scan of document.xml: text inside `<w:t>` accumulates into
    * the current paragraph; `</w:p>` (or a self-closing `<w:p/>`) emits it.
    * Paragraphs with no text runs (empty `<w:p/>`, pure-property paras)
    * produce no line. */
  def extractDocumentXml(xml: String): String = extractRuns(xml, "w:p", "w:t")

  /** The generalized paragraph/run scanner — WordprocessingML uses
    * (w:p, w:t), DrawingML slides (a:p, a:t); same grammar, different
    * names. */
  def extractRuns(xml: String, pTag: String, tTag: String): String = {
    val out = new StringBuilder
    val para = new StringBuilder
    val closeT = "/" + tTag // hoisted: the scan loop runs per tag, and an
    val closeP = "/" + pTag // interpolation there would allocate per tag
    var paraHasRun = false
    var inT = false
    var i = 0
    val n = xml.length

    def endParagraph(): Unit = {
      if (paraHasRun) {
        if (out.nonEmpty) out.append('\n')
        out.append(para)
      }
      para.setLength(0)
      paraHasRun = false
    }

    def isTag(tag: String, name: String): Boolean =
      tag.startsWith(name) && (tag.length == name.length || !isNameChar(tag.charAt(name.length)))

    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        val close = xml.indexOf('>', i)
        if (close < 0) { i = n } // truncated tag: stop
        else {
          val tag = xml.substring(i + 1, close)
          if (isTag(tag, tTag)) {
            if (tag.endsWith("/")) () // empty <w:t/>: no text run
            else {
              inT = true
              // an open/close <w:t></w:t> pair IS a (zero-char) text run:
              // the paragraph must still emit its (empty) line, so that an
              // empty source paragraph round-trips instead of vanishing
              paraHasRun = true
            }
          } else if (tag == closeT) {
            inT = false
          } else if (isTag(tag, pTag)) {
            if (tag.endsWith("/")) endParagraph() // self-closing <w:p/>
          } else if (tag == closeP) {
            endParagraph()
          }
          i = close + 1
        }
      } else if (inT) {
        if (c == '&') {
          val (decoded, next) = entity(xml, i)
          para.append(decoded)
          i = next
        } else {
          para.append(c)
          i += 1
        }
      } else i += 1
    }
    out.toString
  }

  private def isNameChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == ':' || c == '-' || c == '_' || c == '.'

  /** XML's five predefined entities + numeric refs; a bare '&' (invalid XML,
    * defensive) passes through literally. Returns (text, index-after). */
  private def entity(s: String, start: Int): (String, Int) = {
    val semi = s.indexOf(';', start)
    if (semi < 0 || semi - start > 12) return ("&", start + 1)
    val name = s.substring(start + 1, semi)
    name match {
      case "amp" => ("&", semi + 1)
      case "lt" => ("<", semi + 1)
      case "gt" => (">", semi + 1)
      case "quot" => ("\"", semi + 1)
      case "apos" => ("'", semi + 1)
      case _ if name.startsWith("#x") || name.startsWith("#X") =>
        try (new String(Character.toChars(Integer.parseInt(name.drop(2), 16))), semi + 1)
        catch { case _: Exception => ("&", start + 1) }
      case _ if name.startsWith("#") =>
        try (new String(Character.toChars(Integer.parseInt(name.drop(1)))), semi + 1)
        catch { case _: Exception => ("&", start + 1) }
      case _ => ("&", start + 1)
    }
  }
}
