package graft.extract.docx

import java.nio.charset.StandardCharsets

import graft.util.{XmlCursor, ZipReader}

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
  def extractRuns(xml: String, pTag: String, tTag: String): String =
    extractRuns(Seq(xml), pTag, tTag)

  /** The same scanner over several parts in order (a deck's slides): the
    * paragraphs of every part join with "\n", so an empty paragraph keeps
    * its line wherever it falls. A paragraph left open at a part's end is
    * dropped. */
  def extractRuns(parts: Seq[String], pTag: String, tTag: String): String = {
    val out = new java.lang.StringBuilder
    val para = new java.lang.StringBuilder
    var emitted = false
    var paraHasRun = false
    var inT = false

    def endParagraph(): Unit = {
      if (paraHasRun) {
        if (emitted) out.append('\n')
        out.append(para)
        emitted = true
      }
      para.setLength(0)
      paraHasRun = false
    }

    val xmls = parts.iterator
    while (xmls.hasNext) {
      val c = new XmlCursor(xmls.next())
      while (c.next()) {
        if (inT) c.appendText(para)
        if (c.isOpen(tTag)) {
          // an open/close <w:t></w:t> pair IS a (zero-char) text run: the
          // paragraph must still emit its (empty) line, so that an empty
          // source paragraph round-trips instead of vanishing; <w:t/> is none
          if (!c.selfClosing) { inT = true; paraHasRun = true }
        } else if (c.isClose(tTag)) inT = false
        else if (c.isOpen(pTag)) { if (c.selfClosing) endParagraph() }
        else if (c.isClose(pTag)) endParagraph()
      }
      para.setLength(0)
      paraHasRun = false
      inT = false
    }
    out.toString
  }
}
