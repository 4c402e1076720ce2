package graft.extract.epub

import java.nio.charset.StandardCharsets

import graft.util.{XmlCursor, ZipReader}
import graft.extract.html.HtmlExtractor

/** EPUB → text kernel — the reference whitelist's .epub input
  * (/root/reference/src/converters/document_converters.py:16-26). An EPUB
  * is a zip (`mimetype` = application/epub+zip) of XHTML chapters; each
  * chapter runs through the SAME HTML extraction kernel as web pages
  * (tokenizer → blocks → boilerplate classifier), chapters joined by "\n"
  * in SPINE order: META-INF/container.xml names the OPF package document,
  * whose `<manifest>` maps item ids to hrefs and whose `<spine>` fixes the
  * reading order — publisher-named chapter files extract correctly, no
  * filename convention assumed. Non-spine parts (nav/opf/css) contribute
  * nothing. A numeric `OEBPS/chapterN.xhtml` fallback covers packages with
  * a missing/unparseable OPF. The dispatcher hands over its
  * [[graft.util.ZipReader]], so the package is indexed once and each part
  * (container.xml, the OPF, each chapter) is inflated once.
  */
object EpubExtractor {

  val mimetype = "application/epub+zip"

  def extract(zip: ZipReader): String = {
    val chapters = spinePaths(zip) match {
      case Some(paths) if paths.nonEmpty =>
        // a chapter the spine lists twice is still read once
        val byName = paths.distinct.flatMap(p => zip.read(p).map(p -> _)).toMap
        paths.flatMap(byName.get)
      case _ => conventionChapters(zip)
    }
    require(chapters.nonEmpty,
      "epub has no spine-referenced xhtml chapters (and no OEBPS/chapterN.xhtml fallback)")
    chapters.map(HtmlExtractor.extract).filter(_.nonEmpty).mkString("\n")
  }

  /** Chapter archive paths in reading order, from container.xml → OPF
    * manifest + spine. None when the package route is absent/unparseable. */
  def spinePaths(zip: ZipReader): Option[Seq[String]] =
    for {
      container <- zip.read("META-INF/container.xml")
      opfPath <- firstAttr(new String(container, StandardCharsets.UTF_8), "rootfile", "full-path")
      opf <- zip.read(opfPath)
    } yield spine(new String(opf, StandardCharsets.UTF_8), opfPath)

  /** The `name` attribute of the first `<tag>` that has one. */
  private def firstAttr(xml: String, tag: String, name: String): Option[String] = {
    val c = new XmlCursor(xml)
    while (c.next()) if (c.isOpen(tag)) {
      val v = c.attr(name)
      if (v.isDefined) return v
    }
    None
  }

  /** The OPF's spine: each `<itemref idref>` in order, looked up in the
    * `<manifest>` items, XHTML items only, resolved against the OPF's
    * directory. */
  private[graft] def spine(opf: String, opfPath: String): Seq[String] = {
    val base = opfPath.substring(0, opfPath.lastIndexOf('/') + 1)
    val items = Map.newBuilder[String, (String, String)]
    val refs = Seq.newBuilder[String]
    val c = new XmlCursor(opf)
    while (c.next()) {
      if (c.isOpen("item"))
        for (id <- c.attr("id"); href <- c.attr("href"))
          items += id -> (href, c.attr("media-type").getOrElse(""))
      else if (c.isOpen("itemref")) refs ++= c.attr("idref")
    }
    val byId = items.result()
    refs.result().flatMap(byId.get)
      .collect { case (href, mt) if mt == "application/xhtml+xml" => resolve(base, href) }
  }

  private val chapterName = "^OEBPS/chapter([0-9]+)\\.xhtml$".r

  /** Fallback: numeric `OEBPS/chapterN.xhtml` order (the pre-OPF layout). */
  private def conventionChapters(zip: ZipReader): Seq[Array[Byte]] =
    zip.names.collect { case name @ chapterName(num) => (num.toInt, name) }.toSeq
      .sortBy(_._1)
      .flatMap { case (_, name) => zip.read(name) }

  /** Resolve an href against the OPF's directory, normalizing `.`/`..`. */
  private def resolve(base: String, href: String): String = {
    val joined = if (href.startsWith("/")) href.drop(1) else base + href
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    joined.split('/').foreach {
      case "" | "." => ()
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case seg => out += seg
    }
    out.mkString("/")
  }
}
