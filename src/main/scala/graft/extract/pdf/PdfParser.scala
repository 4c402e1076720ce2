package graft.extract.pdf

import java.nio.charset.StandardCharsets
import scala.collection.mutable

import graft.util.Inflate

/** Minimal pure-JVM PDF text extractor (north_star: "a PDF layout parser —
  * glyph clustering into lines/blocks by y/x coordinates — handles binary
  * payloads"). Replaces the reference's LibreOffice PDF import
  * (/root/reference/src/converters/document_converters.py:100-111).
  *
  * Pipeline: object scan -> content-stream extraction (FlateDecode through
  * [[graft.util.Inflate]], bounded per stream and across the document's
  * streams, or raw) -> text-operator interpretation
  * (BT/ET, Tf, TL, Td/TD/Tm/T*, Tj/TJ/'/") -> positioned text runs ->
  * cluster runs into lines by y (tolerance 0.5pt), lines into columns by
  * x-start (gap > 100pt), lines into blocks by y-gap (> 18pt) ->
  * reading order: page, then column left-to-right, then y top-down.
  * Lines within a block joined by ' '; blocks joined by '\n'.
  *
  * Scope is pinned by graft.serialize.PdfWriter (SURVEY §7.3 "resist
  * wild-PDF generality"); the structure handles any translation-only PDF.
  */
object PdfParser {

  final case class Run(page: Int, x: Double, y: Double, text: String)

  def extract(pdf: Array[Byte]): String = {
    val (runs, pages) = collectRuns(pdf)
    // A PDF whose content streams all vanished (truncation) is a failure,
    // not an empty success; a present-but-textless content stream is empty.
    if (pages == 0)
      throw new IllegalArgumentException("no text content streams found (truncated or non-text PDF)")
    assemble(runs)
  }

  // ---------- object / stream discovery ----------

  /** Returns (runs, number of content streams seen). */
  private[pdf] def collectRuns(pdf: Array[Byte]): (Vector[Run], Int) = {
    if (pdf.length < 5 || !(pdf(0) == '%' && pdf(1) == 'P' && pdf(2) == 'D' && pdf(3) == 'F'))
      throw new IllegalArgumentException("not a PDF (missing %PDF header)")
    val s = new String(pdf, StandardCharsets.ISO_8859_1)
    val runs = Vector.newBuilder[Run]
    var page = 0
    var inflated = 0L // across the document's Flate streams
    var i = s.indexOf("stream", 0)
    while (i >= 0) {
      // reject "endstream" matches
      val isEnd = i >= 3 && s.regionMatches(i - 3, "end", 0, 3)
      if (!isEnd) {
        // dict text: from the enclosing "obj" (or last "endobj") to here
        val objIdx = s.lastIndexOf(" obj", i)
        val dictStart = if (objIdx < 0) 0 else objIdx
        val dict = s.substring(dictStart, i)
        var dataStart = i + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        // a missing /Length, or one that overruns the payload, falls back
        // to the endstream keyword
        val len = parseLength(dict)
        val dataEnd =
          if (len >= 0 && len <= pdf.length - dataStart) dataStart + len.toInt
          else {
            val e = s.indexOf("endstream", dataStart)
            if (e < 0) pdf.length else e
          }
        // PDF 1.5+ structural streams: a cross-reference stream's binary
        // rows or an object stream's packed dicts can contain the bytes
        // "BT" by coincidence — they are never page content (ISO 32000-1
        // §7.5.7: stream objects may not reside in object streams, so
        // every content stream is top-level and this scan still sees it).
        // Recognize and skip them by /Type instead of risking garbage runs.
        val structural = dict.contains("/ObjStm") || dict.contains("/XRef")
        if (!structural) {
          val content =
            if (dict.contains("/FlateDecode")) {
              val body = Inflate.grow(pdf, dataStart, dataEnd - dataStart, inflated, "PDF Flate stream")
              inflated += body.length
              new String(body, StandardCharsets.ISO_8859_1)
            } else s.substring(dataStart, dataEnd)
          if (content.contains("BT")) {
            interpret(content, page, runs)
            page += 1
          }
        }
        i = s.indexOf("stream", dataEnd)
      } else {
        i = s.indexOf("stream", i + 6)
      }
    }
    (runs.result(), page)
  }

  /** The dict's direct `/Length`, or -1 when it has none; one with more
    * digits than a Long holds reads as Long.MaxValue, past any payload. */
  private def parseLength(dict: String): Long =
    LengthRe.findFirstMatchIn(dict).map(_.group(1)).fold(-1L)(d =>
      if (d.isEmpty) -1L else if (d.length > 18) Long.MaxValue else d.toLong)

  private val LengthRe = "/Length *([0-9]*)".r

  // ---------- content-stream interpreter ----------

  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(v: String) extends Tok
  private final case class TName(v: String) extends Tok
  private final case class TArr(v: Vector[Tok]) extends Tok
  private final case class TOp(v: String) extends Tok

  private def lex(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private val n = s.length
    private var pending: Tok = null
    advance()
    def hasNext: Boolean = pending != null
    def next(): Tok = { val t = pending; advance(); t }

    private def advance(): Unit = {
      pending = null
      while (pending == null && i < n) {
        val c = s.charAt(i)
        if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == '\u0000') i += 1
        else if (c == '%') { while (i < n && s.charAt(i) != '\n') i += 1 }
        else if (c == '(') pending = lexString()
        else if (c == '[') pending = lexArray()
        else if (c == ']') { i += 1 } // stray
        else if (c == '/') pending = lexName()
        else if (c == '<') {
          if (i + 1 < n && s.charAt(i + 1) == '<') i += 2 // dict open — skip
          else pending = lexHexString()
        }
        else if (c == '>') { i += 1 } // dict close / stray
        else if (c == '-' || c == '+' || c == '.' || c.isDigit) pending = lexNumber()
        else pending = lexOp()
      }
    }
    private def lexString(): TStr = {
      i += 1 // skip (
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (i < n && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n) {
          val e = s.charAt(i + 1)
          e match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\n' => i += 2 // line continuation
            case d if d >= '0' && d <= '7' =>
              var j = i + 1; var v = 0; var cnt = 0
              while (j < n && cnt < 3 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
                v = v * 8 + (s.charAt(j) - '0'); j += 1; cnt += 1
              }
              sb.append(v.toChar); i = j
            case other => sb.append(other); i += 2
          }
        } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c); i += 1 }
        else { sb.append(c); i += 1 }
      }
      TStr(sb.toString)
    }
    private def lexArray(): TArr = {
      i += 1
      val items = Vector.newBuilder[Tok]
      while (i < n && s.charAt(i) != ']') {
        val c = s.charAt(i)
        if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
        else if (c == '(') items += lexString()
        else if (c == '<') items += lexHexString() // TJ arrays mix <hex> and (lit)
        else if (c == '/') items += lexName()
        else if (c == '-' || c == '+' || c == '.' || c.isDigit) items += lexNumber()
        else i += 1
      }
      if (i < n) i += 1 // skip ]
      TArr(items.result())
    }
    /** `<48656C6C6F>` — hex pairs, whitespace allowed anywhere inside, an
      * odd trailing digit is padded with 0 (ISO 32000-1 §7.3.4.3). */
    private def lexHexString(): TStr = {
      i += 1 // skip <
      val sb = new java.lang.StringBuilder
      var hi = -1
      while (i < n && s.charAt(i) != '>') {
        val c = s.charAt(i)
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { sb.append(((hi << 4) | d).toChar); hi = -1 }
        } // non-hex (incl. whitespace) is ignored per spec tolerance
        i += 1
      }
      if (hi >= 0) sb.append((hi << 4).toChar) // odd count: pad low nibble 0
      if (i < n) i += 1 // skip >
      TStr(sb.toString)
    }
    private def lexName(): TName = {
      i += 1
      val st = i
      while (i < n && !" \n\r\t/()[]<>".contains(s.charAt(i))) i += 1
      TName(s.substring(st, i))
    }
    private def lexNumber(): TNum = {
      val st = i
      if (s.charAt(i) == '-' || s.charAt(i) == '+') i += 1
      while (i < n && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      TNum(s.substring(st, i).toDouble)
    }
    private def lexOp(): TOp = {
      val st = i
      while (i < n && (s.charAt(i).isLetter || s.charAt(i) == '*' || s.charAt(i) == '\'' || s.charAt(i) == '"')) i += 1
      if (i == st) { i += 1; TOp(s.substring(st, i)) }
      else TOp(s.substring(st, i))
    }
  }

  /** Interpret one content stream; append positioned runs. Tracks the
    * translation components of the text/line matrices (our corpus uses no
    * rotation/scaling; the structure extends to full matrices if needed). */
  private def interpret(content: String, page: Int, out: mutable.Growable[Run]): Unit = {
    var lx = 0.0; var ly = 0.0 // text line matrix (translation)
    var tx = 0.0; var ty = 0.0 // current text position
    var tl = 0.0               // leading
    var lastRun: Run = null
    val operands = mutable.ArrayBuffer[Tok]()

    def num(k: Int): Double = operands.lift(operands.length - k).collect { case TNum(v) => v }.getOrElse(0.0)
    def flushRun(): Unit = { if (lastRun != null && lastRun.text.nonEmpty) out += lastRun; lastRun = null }
    def show(text: String): Unit = {
      if (lastRun != null && lastRun.page == page && math.abs(lastRun.y - ty) < 0.5)
        lastRun = lastRun.copy(text = lastRun.text + text)
      else { flushRun(); lastRun = Run(page, tx, ty, text) }
    }
    def td(x: Double, y: Double): Unit = { lx += x; ly += y; tx = lx; ty = ly }

    lex(content).foreach {
      case op: TOp =>
        op.v match {
          case "BT" => lx = 0; ly = 0; tx = 0; ty = 0
          case "ET" => ()
          case "Td" => td(num(2), num(1))
          case "TD" => tl = -num(1); td(num(2), num(1))
          case "TL" => tl = num(1)
          case "Tm" => lx = num(2); ly = num(1); tx = lx; ty = ly
          case "T*" => td(0, -tl)
          case "Tj" => operands.lastOption.foreach { case TStr(v) => show(v); case _ => () }
          case "'" => td(0, -tl); operands.lastOption.foreach { case TStr(v) => show(v); case _ => () }
          case "\"" => td(0, -tl); operands.lastOption.foreach { case TStr(v) => show(v); case _ => () }
          case "TJ" => operands.lastOption.foreach {
            case TArr(items) =>
              val sb = new java.lang.StringBuilder
              items.foreach { case TStr(v) => sb.append(v); case _ => () }
              show(sb.toString)
            case _ => ()
          }
          case _ => () // Tf, colors, graphics state — irrelevant to text position
        }
        operands.clear()
      case t => operands += t
    }
    flushRun()
  }

  // ---------- layout clustering ----------

  private[pdf] def assemble(runs: Vector[Run]): String = {
    if (runs.isEmpty) return ""
    val blocks = Vector.newBuilder[String]
    runs.groupBy(_.page).toVector.sortBy(_._1).foreach { case (_, pageRuns) =>
      // lines: cluster runs by y (tolerance 0.5), members sorted by x
      val lines: Vector[(Double, Double, String)] = pageRuns
        .groupBy(r => math.round(r.y * 2).toDouble / 2)
        .toVector
        .map { case (_, rs) =>
          val sorted = rs.sortBy(_.x)
          (sorted.head.x, rs.head.y, sorted.map(_.text).mkString(""))
        }
      // columns: cluster line x-starts, split at gap > 100
      val xs = lines.map(_._1).distinct.sorted
      val colStarts = mutable.ArrayBuffer[Double]()
      xs.foreach { x =>
        if (colStarts.isEmpty || x - colStarts.last > 100) colStarts += x
      }
      def colOf(x: Double): Int = {
        var c = 0
        colStarts.zipWithIndex.foreach { case (cx, idx) => if (x >= cx - 1) c = idx }
        c
      }
      lines.groupBy(l => colOf(l._1)).toVector.sortBy(_._1).foreach { case (_, colLines) =>
        val ordered = colLines.sortBy(l => -l._2) // top-down (PDF y grows up)
        var cur = mutable.ArrayBuffer[String]()
        var prevY = Double.NaN
        ordered.foreach { case (_, y, text) =>
          if (!prevY.isNaN && prevY - y > 18.0) {
            if (cur.nonEmpty) blocks += cur.mkString(" ")
            cur = mutable.ArrayBuffer[String]()
          }
          cur += text
          prevY = y
        }
        if (cur.nonEmpty) blocks += cur.mkString(" ")
      }
    }
    blocks.result().mkString("\n")
  }
}
