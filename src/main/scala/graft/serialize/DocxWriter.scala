package graft.serialize

import graft.serialize.OoxmlZip.xmlEscape

/** Minimal deterministic DOCX generator for the golden-fixture corpus —
  * same pattern as [[PdfWriter]]. DOCX is the reference's flagship input
  * (/root/reference/src/converters/document_converters.py:16-26 routes
  * .docx through LibreOffice); here it is a zip package whose text lives
  * in `word/document.xml` as `<w:p><w:r><w:t>` runs.
  *
  * Structure variants that exercise the extractor:
  *   0 — one run per paragraph, deflated entries
  *   1 — paragraphs split into multiple runs at word boundaries, alternating
  *       runs carry `<w:rPr><w:b/></w:rPr>` properties (skip-element test)
  *   2 — runs split MID-WORD with xml:space="preserve" (leading/trailing
  *       spaces inside w:t), STORED (uncompressed) zip entries
  *   3 — paragraphs inside a `<w:tbl>` table, extra package parts
  *       (styles.xml, fontTable.xml) and a sectPr to skip
  *
  * Contract shared with graft.extract.docx.DocxExtractor: joining the
  * `<w:t>` fragments of one `<w:p>` reproduces the paragraph exactly;
  * paragraphs joined by "\n" reproduce the golden text.
  */
object DocxWriter {

  val numVariants = 4

  /** One `<w:t>` element; space-preserving iff the fragment has an edge
    * space (mid-word splits in variant 2 produce those). */
  private def wt(frag: String): String = {
    val esc = xmlEscape(frag)
    if (frag != frag.trim) s"""<w:t xml:space="preserve">$esc</w:t>"""
    else s"<w:t>$esc</w:t>"
  }

  private def runsFor(paragraph: String, variant: Int): Seq[String] = variant match {
    case 0 | 3 => Seq(s"<w:r>${wt(paragraph)}</w:r>")
    case 1 =>
      // split at word boundaries every 3 words; alternate bold run props
      val words = paragraph.split(' ')
      words.grouped(3).zipWithIndex.map { case (g, i) =>
        val frag = (if (i == 0) "" else " ") + g.mkString(" ")
        val props = if (i % 2 == 1) "<w:rPr><w:b/><w:i/></w:rPr>" else ""
        s"<w:r>$props${wt(frag)}</w:r>"
      }.toSeq
    case 2 =>
      // split mid-word-ish: fixed-width 11-char fragments regardless of
      // spaces; an empty paragraph still gets its one (empty) run
      val frags = if (paragraph.isEmpty) Seq("") else OoxmlZip.fragments(paragraph, 11)
      frags.map(f => s"<w:r>${wt(f)}</w:r>")
    case _ => throw new IllegalArgumentException(s"variant $variant")
  }

  private def documentXml(paragraphs: Seq[String], variant: Int): String = {
    val body = new StringBuilder
    body.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    body.append("\n<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>")
    def para(p: String): String =
      s"<w:p><w:pPr><w:pStyle w:val=\"Normal\"/></w:pPr>${runsFor(p, variant).mkString}</w:p>"
    if (variant == 3) {
      body.append("<w:tbl><w:tblPr><w:tblW w:w=\"0\" w:type=\"auto\"/></w:tblPr>")
      paragraphs.foreach { p =>
        body.append(s"<w:tr><w:tc><w:tcPr><w:tcW w:w=\"0\"/></w:tcPr>${para(p)}</w:tc></w:tr>")
      }
      body.append("</w:tbl>")
      // an empty trailing paragraph (no text runs) — extractor must not
      // emit a blank line for it
      body.append("<w:p/>")
    } else {
      paragraphs.foreach(p => body.append(para(p)))
    }
    body.append("<w:sectPr><w:pgSz w:w=\"11906\" w:h=\"16838\"/></w:sectPr>")
    body.append("</w:body></w:document>")
    body.toString
  }

  private val contentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
      """</Types>"""

  private val rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
      """</Relationships>"""

  private val stylesXml =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:styles xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<w:style w:type="paragraph" w:styleId="Normal"><w:name w:val="Normal"/></w:style></w:styles>"""

  private val fontTableXml =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:fonts xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<w:font w:name="Liberation Serif"><w:charset w:val="00"/></w:font></w:fonts>"""

  /** Generate a complete DOCX package for the given paragraphs. */
  def generate(paragraphs: Seq[String], variant: Int): Array[Byte] = {
    val entries = Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels) ++
      (if (variant == 3) Seq("word/styles.xml" -> stylesXml,
        "word/fontTable.xml" -> fontTableXml)
      else Seq.empty) ++
      Seq("word/document.xml" -> documentXml(paragraphs, variant))
    OoxmlZip.write(entries, store = variant == 2)
  }
}
