package graft.serialize

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import graft.util.Inflate.deflate

/** Minimal deterministic PDF generator for the golden-fixture corpus
  * (SURVEY §5.2 / FIXTURES.md §3). Produces PDF 1.4 with Helvetica, valid
  * xref, and layout variants that exercise the parser:
  *
  *   0 — single column, raw (uncompressed) content stream, Td/relative moves
  *   1 — single column, FlateDecode, absolute Tm positioning
  *   2 — two columns, FlateDecode (x-clustering test)
  *   3 — multi-page (page break every 2 paragraphs), TJ kerning arrays, T*
  *   4 — PDF 1.5: catalog/pages/font/page dicts packed into a compressed
  *       object stream (/Type/ObjStm) and a cross-reference STREAM
  *       (/Type/XRef, W[1 3 1] binary rows, type-2 entries) instead of the
  *       classic xref table — the modern-web layout ubiquitous in
  *       Common-Crawl PDFs (content streams stay top-level: ISO 32000-1
  *       §7.5.7 forbids stream objects inside object streams)
  *   5 — hex strings (ISO 32000-1 §7.3.4.3): absolute Tm positioning with
  *       `<hex> Tj` shows, long lines as TJ arrays mixing hex and literal
  *       strings with embedded whitespace in the hex run — the other string
  *       syntax real-world generators emit
  *
  * Layout contract shared with graft.extract.pdf.PdfParser:
  * leading 12pt within a paragraph, 24pt between paragraphs (parser splits
  * blocks at y-gap > 18), columns at x=50 and x=320 (parser splits columns at
  * x-gap > 100), paragraphs never straddle a column/page boundary.
  */
object PdfWriter {

  val numVariants = 6

  private val pageW = 612
  private val pageH = 792
  private val topY = 742
  private val bottomY = 50
  private val leading = 12
  private val paraGap = 24

  /** Greedy word wrap; rejoining lines with ' ' reproduces the paragraph. */
  def wrap(paragraph: String, maxChars: Int): Vector[String] = {
    val words = paragraph.split(' ')
    val lines = Vector.newBuilder[String]
    val cur = new StringBuilder
    for (w <- words) {
      if (cur.isEmpty) cur.append(w)
      else if (cur.length + 1 + w.length <= maxChars) cur.append(' ').append(w)
      else { lines += cur.toString; cur.clear(); cur.append(w) }
    }
    if (cur.nonEmpty) lines += cur.toString
    lines.result()
  }

  /** `<48 65 6C...>`: Latin-1 bytes as hex pairs; a space every four pairs
    * exercises the parser's whitespace-inside-hex tolerance. */
  private def hex(s: String): String = {
    val sb = new StringBuilder(s.length * 2 + 8)
    sb.append('<')
    var k = 0
    s.foreach { c =>
      if (k > 0 && k % 4 == 0) sb.append(' ')
      sb.append(f"${c.toInt & 0xff}%02X")
      k += 1
    }
    sb.append('>')
    sb.toString
  }

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** A positioned line of text. */
  private case class Line(x: Int, y: Int, text: String, newPara: Boolean)

  /** Lay paragraphs into pages of column line-lists. */
  private def layout(paragraphs: Seq[String], variant: Int): Vector[Vector[Line]] = {
    val twoCol = variant == 2
    val maxChars = if (twoCol) 38 else 60
    val colXs = if (twoCol) Vector(50, 320) else Vector(50)
    val pageBreakEvery = if (variant == 3) 2 else Int.MaxValue

    val pages = Vector.newBuilder[Vector[Line]]
    var cur = Vector.newBuilder[Line]
    var curEmpty = true
    var col = 0
    var y = topY
    var parasOnPage = 0

    def newPage(): Unit = {
      if (!curEmpty) { pages += cur.result() }
      cur = Vector.newBuilder[Line]; curEmpty = true
      col = 0; y = topY; parasOnPage = 0
    }

    for (p <- paragraphs) {
      val lines = wrap(p, maxChars)
      val height = lines.length * leading
      if (parasOnPage >= pageBreakEvery) newPage()
      if (y - height < bottomY) {
        if (col + 1 < colXs.length) { col += 1; y = topY }
        else newPage()
      }
      var first = true
      for (l <- lines) {
        cur += Line(colXs(col), y, l, newPara = first)
        curEmpty = false
        first = false
        y -= leading
      }
      y -= (paraGap - leading) // extra gap after a paragraph
      parasOnPage += 1
    }
    if (!curEmpty) pages += cur.result()
    val res = pages.result()
    if (res.isEmpty) Vector(Vector.empty) else res
  }

  /** Render one page's lines into a content stream body. */
  private def contentStream(lines: Vector[Line], variant: Int): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 10 Tf\n")
    variant match {
      case 0 => // relative Td moves
        var px = 0; var py = 0; var started = false
        for (l <- lines) {
          if (!started) { sb.append(s"${l.x} ${l.y} Td\n"); started = true }
          else sb.append(s"${l.x - px} ${l.y - py} Td\n")
          px = l.x; py = l.y
          sb.append(s"(${esc(l.text)}) Tj\n")
        }
      case 1 | 2 | 4 => // absolute Tm per line
        for (l <- lines)
          sb.append(s"1 0 0 1 ${l.x} ${l.y} Tm\n(${esc(l.text)}) Tj\n")
      case 5 => // absolute Tm, hex-string shows (+ mixed-syntax TJ arrays)
        for (l <- lines) {
          sb.append(s"1 0 0 1 ${l.x} ${l.y} Tm\n")
          if (l.text.length > 8) {
            val mid = l.text.length / 2
            sb.append(s"[${hex(l.text.substring(0, mid))} 15 (${esc(l.text.substring(mid))})] TJ\n")
          } else sb.append(s"${hex(l.text)} Tj\n")
        }
      case 3 => // TL/T* plus TJ kerning arrays (mid-word split: pure concat)
        sb.append(s"$leading TL\n")
        var px = 0; var py = 0; var started = false
        for (l <- lines) {
          if (!started) { sb.append(s"${l.x} ${l.y} Td\n"); started = true; px = l.x; py = l.y }
          else if (l.x == px && py - l.y == leading && !l.newPara) { sb.append("T*\n"); py = l.y }
          else { sb.append(s"${l.x - px} ${l.y - py} Td\n"); px = l.x; py = l.y }
          if (l.text.length > 8) {
            val mid = l.text.length / 2
            sb.append(s"[(${esc(l.text.substring(0, mid))}) 15 (${esc(l.text.substring(mid))})] TJ\n")
          } else sb.append(s"(${esc(l.text)}) Tj\n")
        }
      case _ => throw new IllegalArgumentException(s"variant $variant")
    }
    sb.append("ET\n")
    sb.toString
  }

  /** Generate a complete PDF for the given paragraphs.
    *
    * Scope guard: text must be ISO-8859-1-representable (ASCII + 0xA0-0xFF;
    * the writer emits a WinAnsi-encoded Type1 font and the content stream as
    * Latin-1 bytes). Anything beyond — CJK, typographic-quote range
    * 0x80-0x9F — would need a CID font, which is outside the pinned fixture
    * scope (SURVEY §7.3 "resist wild-PDF generality"); failing loudly here
    * beats silently writing '?' and corrupting a golden. */
  def generate(paragraphs: Seq[String], variant: Int): Array[Byte] = {
    paragraphs.foreach { p =>
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        require(c < 0x100 && !(c >= 0x80 && c <= 0x9f),
          f"PdfWriter scope: char U+${c.toInt}%04X in '${p.take(40)}…' is not ISO-8859-1-representable")
        i += 1
      }
    }
    if (variant == 4) return generate15(paragraphs)
    val pages = layout(paragraphs, variant)
    val nPages = pages.length
    val compress = variant != 0

    // object numbering: 1 catalog, 2 pages, 3 font, then (page, content)*
    val fontObj = 3
    val objs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def bytes(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)

    val kidRefs = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    objs += bytes("<< /Type /Catalog /Pages 2 0 R >>")
    objs += bytes(s"<< /Type /Pages /Kids [$kidRefs] /Count $nPages >>")
    objs += bytes("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val contentObj = 4 + 2 * i + 1
      objs += bytes(
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $pageW $pageH] " +
        s"/Resources << /Font << /F1 $fontObj 0 R >> >> /Contents $contentObj 0 R >>")
      val raw = bytes(contentStream(lines, variant))
      val body = if (compress) deflate(raw) else raw
      val filter = if (compress) " /Filter /FlateDecode" else ""
      val head = bytes(s"<< /Length ${body.length}$filter >>\nstream\n")
      val tail = bytes("\nendstream")
      val full = new Array[Byte](head.length + body.length + tail.length)
      System.arraycopy(head, 0, full, 0, head.length)
      System.arraycopy(body, 0, full, head.length, body.length)
      System.arraycopy(tail, 0, full, head.length + body.length, tail.length)
      objs += full
    }

    val out = new ByteArrayOutputStream(4096)
    def w(b: Array[Byte]): Unit = out.write(b)
    w(bytes("%PDF-1.4\n%âãÏÓ\n"))
    val offsets = new Array[Int](objs.length)
    objs.zipWithIndex.foreach { case (o, idx) =>
      offsets(idx) = out.size()
      w(bytes(s"${idx + 1} 0 obj\n")); w(o); w(bytes("\nendobj\n"))
    }
    val xrefPos = out.size()
    w(bytes(s"xref\n0 ${objs.length + 1}\n"))
    w(bytes("0000000000 65535 f \n"))
    offsets.foreach(off => w(bytes(f"$off%010d 00000 n \n")))
    w(bytes(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n"))
    out.toByteArray
  }

  /** Variant 4: PDF 1.5 with compressed cross-reference stream and object
    * stream. Object numbering keeps the packed objects DENSE from 1 so the
    * type-2 (objStm, index) xref rows are index == num-1: 1 catalog,
    * 2 pages, 3 font, 4..3+n page dicts (all inside the /Type/ObjStm),
    * then 4+n..3+2n top-level content streams (type 1), and the ObjStm and
    * XRef stream close the file. The xref rows are spec-correct byte
    * offsets even though the scan-based parser never reads them — a
    * conforming 1.5 reader must be able to open the file. */
  private def generate15(paragraphs: Seq[String]): Array[Byte] = {
    val pages = layout(paragraphs, 4)
    val nPages = pages.length
    def bytes(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)

    val fontObj = 3
    def pageObj(i: Int) = 4 + i
    def contentObj(i: Int) = 4 + nPages + i
    val kidRefs = (0 until nPages).map(i => s"${pageObj(i)} 0 R").mkString(" ")
    // (objNum, dictBody) packed into the object stream, densely numbered 1..3+n
    val packed: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [$kidRefs] /Count $nPages >>",
        3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>") ++
        (0 until nPages).map { i =>
          pageObj(i) ->
            (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $pageW $pageH] " +
              s"/Resources << /Font << /F1 $fontObj 0 R >> >> /Contents ${contentObj(i)} 0 R >>")
        }
    val objStmObj = 4 + 2 * nPages
    val xrefObj = objStmObj + 1

    val out = new ByteArrayOutputStream(4096)
    def w(b: Array[Byte]): Unit = out.write(b)
    w(bytes("%PDF-1.5\n%âãÏÓ\n"))

    // top-level content streams (deflated)
    val contentOffsets = (0 until nPages).map { i =>
      val off = out.size()
      val body = deflate(bytes(contentStream(pages(i), 4)))
      w(bytes(s"${contentObj(i)} 0 obj\n<< /Length ${body.length} /Filter /FlateDecode >>\nstream\n"))
      w(body)
      w(bytes("\nendstream\nendobj\n"))
      off
    }

    // object stream: "num offset ..." header then the concatenated dicts
    val objStmOffset = out.size()
    val bodies = packed.map(_._2 + "\n")
    val innerOffsets = bodies.scanLeft(0)(_ + _.length).init
    val header = packed.zip(innerOffsets)
      .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val stmRaw = bytes(header + bodies.mkString)
    val stmBody = deflate(stmRaw)
    w(bytes(s"$objStmObj 0 obj\n<< /Type /ObjStm /N ${packed.length} " +
      s"/First ${header.length} /Length ${stmBody.length} /Filter /FlateDecode >>\nstream\n"))
    w(stmBody)
    w(bytes("\nendstream\nendobj\n"))

    // cross-reference stream: W [1 3 1] rows for objects 0..xrefObj
    val xrefOffset = out.size()
    val rows = new ByteArrayOutputStream()
    def row(t: Int, mid: Int, last: Int): Unit = {
      rows.write(t)
      rows.write((mid >>> 16) & 0xff); rows.write((mid >>> 8) & 0xff)
      rows.write(mid & 0xff)
      rows.write(last & 0xff)
    }
    row(0, 0, 255) // object 0: free list head
    packed.zipWithIndex.foreach { case ((num, _), idx) =>
      require(num == idx + 1, "packed objects must be densely numbered from 1")
    }
    // objects 1..3+nPages are the packed dicts: type 2 (ObjStm, index);
    // 4+nPages..3+2*nPages the content streams: type 1 (byte offset).
    // /W mid width 3 covers 16 MiB of file; the requires keep a silent
    // overflow out.
    (1 to 3 + nPages).foreach(num => row(2, objStmObj, num - 1))
    contentOffsets.foreach { off =>
      require(off <= 0xffffff, s"content offset $off exceeds /W[1 3 1] width")
      row(1, off, 0)
    }
    require(objStmOffset <= 0xffffff && xrefOffset <= 0xffffff,
      "xref offsets exceed /W[1 3 1] width")
    row(1, objStmOffset, 0)
    row(1, xrefOffset, 0)
    val xrefBody = deflate(rows.toByteArray)
    w(bytes(s"$xrefObj 0 obj\n<< /Type /XRef /Size ${xrefObj + 1} /W [1 3 1] " +
      s"/Index [0 ${xrefObj + 1}] /Root 1 0 R /Length ${xrefBody.length} " +
      "/Filter /FlateDecode >>\nstream\n"))
    w(xrefBody)
    w(bytes("\nendstream\nendobj\n"))
    w(bytes(s"startxref\n$xrefOffset\n%%EOF\n"))
    out.toByteArray
  }
}
