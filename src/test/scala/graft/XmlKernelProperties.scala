package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

import graft.extract.docx.DocxExtractor
import graft.extract.epub.EpubExtractor
import graft.extract.ooxml.{OdfExtractor, OoxmlExtractor}
import graft.serialize.{DocxWriter, OdfWriter, PptxWriter, XlsxWriter}

/** The XML kernels under XML-special text and under arbitrary tag soup:
  * writer round trips whose words carry `& < > " '` and supplementary-plane
  * characters, and every XML entry point total over a small XML alphabet
  * (a row or an IllegalArgumentException, never an index error). */
object XmlKernelProperties extends Properties("xml kernels") {

  private val word: Gen[String] = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
    Gen.frequency(6 -> Gen.alphaLowerChar.map(_.toString),
      3 -> Gen.oneOf("&", "<", ">", "\"", "'"),
      1 -> Gen.oneOf("😀", "𝒳", "日")))).map(_.mkString)
  private val paragraph: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
  private val paragraphs: Gen[Seq[String]] = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, paragraph))
  /** Paragraphs of which about one in four is empty, the leading one too. */
  private val paragraphsWithEmpty: Gen[Seq[String]] = Gen.chooseNum(1, 5).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(3 -> paragraph, 1 -> Gen.const(""))))

  /** Every variant's extraction equals the paragraphs joined by "\n"
    * (no shrinking: a shrunk string need not be single-spaced words).
    * Empty paragraphs are drawn unless `withEmpty` is false (an xlsx row
    * of one empty cell is no row). */
  private def roundTrips(variants: Seq[Int], withEmpty: Boolean = true)(
      extract: (Seq[String], Int) => String): Prop =
    forAllNoShrink(if (withEmpty) paragraphsWithEmpty else paragraphs) { ps =>
      val want = ps.mkString("\n")
      variants.forall(v => extract(ps, v) == want)
    }

  property("docx round trip with XML-special text, all variants") =
    roundTrips(0 until DocxWriter.numVariants)((ps, v) => DocxExtractor.extract(DocxWriter.generate(ps, v)))

  property("pptx round trip with XML-special text, all variants") =
    roundTrips(0 until PptxWriter.numVariants)((ps, v) => OoxmlExtractor.extract(PptxWriter.generate(ps, v))._2)

  property("xlsx round trip with XML-special text, verbatim variants 0 and 2") =
    roundTrips(Seq(0, 2), withEmpty = false)((ps, v) => OoxmlExtractor.extract(XlsxWriter.generate(ps, v))._2)

  property("odt and odp round trip with XML-special text, variants 0-2") =
    roundTrips(Seq(0, 1, 2, 10, 11, 12))((ps, v) =>
      OoxmlExtractor.extract(OdfWriter.generate(if (v < 10) "odt" else "odp", ps, v % 10))._2)

  property("fodt and fodp round trip with XML-special text, variants 0-2") =
    roundTrips(Seq(0, 1, 2, 10, 11, 12))((ps, v) =>
      OdfExtractor.extractFlat(OdfWriter.generateFlat(if (v < 10) "odt" else "odp", ps, v % 10))._2)

  /** Strings over `< > / & ; # x = "`, a few letters, and the given tags:
    * each bare and as whole open, close and empty tags, or taken as it is
    * when it holds a '<'. */
  private def soup(tags: String*): Gen[String] = Gen.listOf(Gen.frequency(
    3 -> Gen.oneOf(tags.flatMap(n =>
      if (n.contains('<')) Seq(n)
      else Seq(n, s"<$n>", s"</${n.takeWhile(_ != ' ')}>", s"<$n/>"))),
    2 -> Gen.oneOf("<", ">"),
    2 -> Gen.oneOf("/", "&", ";", "#", "x", "=", "\"", "a", "b", "e", " "))).map(_.mkString)

  private def total(body: => Any): Boolean =
    try { body; true }
    catch { case _: IllegalArgumentException => true } // NumberFormatException included

  property("docx/pptx run scanner is total") =
    forAll(soup("w:p", "w:t", "w:r", "a:p", "a:t", "1")) { s =>
      total(DocxExtractor.extractRuns(s, "w:p", "w:t")) && total(DocxExtractor.extractRuns(s, "a:p", "a:t"))
    }

  property("odf paragraph scanner and flat-ODF root read are total") =
    forAll(soup("text:p", "text:span", "text:s", "text:s text:c=\"x\"", "text:tab",
        "text:line-break", "office:document", "office:document office:mimetype=\"x\"", "office:text")) { s =>
      total(OdfExtractor.extractParagraphs(s)) && total(OdfExtractor.flatKind(s))
    }

  property("odf spreadsheet scanner is total") =
    forAll(soup("text:p", "text:s", "text:s text:c=\"x\"", "table:table-cell", "table:table-row")) { s =>
      total(OdfExtractor.extractSpreadsheet(s))
    }

  property("xlsx sheet scanner is total") =
    forAll(soup("row", "c", "c t=\"s\"", "c t=\"inlineStr\"", "v", "is", "t", "r",
        "<v>1</v>", "<v>2</v>", "<v>x</v>")) { s =>
      total(OoxmlExtractor.extractSheet(s, IndexedSeq("a", "b")))
    }

  property("xlsx shared-string scanner is total") =
    forAll(soup("si", "t", "r", "rPh")) { s => total(OoxmlExtractor.parseSharedStrings(s)) }

  property("epub OPF spine read is total") =
    forAll(soup("item", "item id=\"a\" href=\"../x\" media-type=\"application/xhtml+xml\"",
        "itemref", "itemref idref=\"a\"", "id", "href", "..")) { s =>
      total(EpubExtractor.spine(s, "OEBPS/content.opf"))
    }
}
