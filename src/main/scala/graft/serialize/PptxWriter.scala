package graft.serialize

import graft.serialize.OoxmlZip.xmlEscape

/** Minimal deterministic PPTX generator — the PresentationML sibling of
  * [[DocxWriter]] (reference input whitelist
  * /root/reference/src/converters/document_converters.py:16-26 includes
  * .pptx). Slide text lives in `ppt/slides/slideN.xml` as
  * `<a:p><a:r><a:t>` runs inside text-body shapes.
  *
  * Variants:
  *   0 — one slide per paragraph, one run each, deflated
  *   1 — two paragraphs per slide, runs split at word boundaries with
  *       alternating run properties
  *   2 — all paragraphs on one slide, runs split mid-word, STORED archive
  *   3 — >10 slides exercise NUMERIC slide ordering (slide10 after slide9,
  *       not after slide1) plus empty placeholder shapes to skip
  *
  * Contract shared with graft.extract.ooxml.OoxmlExtractor: slides in
  * numeric order, paragraph runs joined, paragraphs/slides joined by "\n"
  * reproduce the source paragraphs exactly.
  */
object PptxWriter {

  val numVariants = 4

  private def run(frag: String, props: Boolean): String = {
    val p = if (props) "<a:rPr b=\"1\" i=\"1\"/>" else ""
    s"<a:r>$p<a:t>${xmlEscape(frag)}</a:t></a:r>"
  }

  private def para(p: String, variant: Int): String = {
    val runs = variant match {
      case 1 =>
        p.split(' ').grouped(3).zipWithIndex.map { case (g, i) =>
          run((if (i == 0) "" else " ") + g.mkString(" "), props = i % 2 == 1)
        }.mkString
      case 2 =>
        (if (p.isEmpty) Seq("") else OoxmlZip.fragments(p, 9)).map(run(_, props = false)).mkString
      case _ => run(p, props = false)
    }
    s"<a:p><a:pPr/>$runs</a:p>"
  }

  private def slideXml(paragraphs: Seq[String], variant: Int): String = {
    val body = paragraphs.map(para(_, variant)).mkString
    val emptyShape =
      if (variant == 3)
        "<p:sp><p:txBody><a:bodyPr/><a:p><a:pPr/></a:p></p:txBody></p:sp>"
      else ""
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      "<p:sld xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\" " +
      "xmlns:a=\"http://schemas.openxmlformats.org/drawingml/2006/main\">" +
      s"<p:cSld><p:spTree>$emptyShape<p:sp><p:txBody><a:bodyPr/>$body</p:txBody></p:sp>" +
      "</p:spTree></p:cSld></p:sld>"
  }

  /** Group source paragraphs into slides per the variant. */
  private def slideGroups(paragraphs: Seq[String], variant: Int): Seq[Seq[String]] =
    variant match {
      case 0 => paragraphs.map(Seq(_))
      case 1 => paragraphs.grouped(2).toSeq
      case 2 => Seq(paragraphs)
      case 3 => paragraphs.map(Seq(_)) // many slides -> numeric-order test
      case _ => throw new IllegalArgumentException(s"variant $variant")
    }

  def generate(paragraphs: Seq[String], variant: Int): Array[Byte] = {
    val groups = slideGroups(paragraphs, variant)
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>""" +
        groups.indices.map(i =>
          s"""<Override PartName="/ppt/slides/slide${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>""").mkString +
        "</Types>"
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>""" +
        "</Relationships>"
    val presentation =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        "<p:presentation xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\">" +
        "<p:sldIdLst>" +
        groups.indices.map(i => s"""<p:sldId id="${256 + i}"/>""").mkString +
        "</p:sldIdLst></p:presentation>"
    val entries = Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "ppt/presentation.xml" -> presentation) ++
      groups.zipWithIndex.map { case (g, i) =>
        s"ppt/slides/slide${i + 1}.xml" -> slideXml(g, variant)
      }
    OoxmlZip.write(entries, store = variant == 2)
  }
}
