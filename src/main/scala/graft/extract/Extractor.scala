package graft.extract

import java.nio.charset.StandardCharsets

import graft.extract.html.{Charsets, HtmlExtractor}
import graft.extract.pdf.PdfParser
import graft.model.{ExtractionResult, WebPage}

/** Payload sniffing + dispatch + failure containment — the Spark analog of
  * the reference's extension routing and error records
  * (/root/reference/document_converter.py:26-43 routing;
  * /root/reference/src/converters/document_converters.py:113-120,142-148
  * failure records). Total function: any payload yields a result row, never
  * an exception — failures become success=false rows so one poisoned
  * document cannot kill a 10^12-document job.
  */
object Extractor {

  /** Magic-prefix format sniffing (replaces file-extension routing):
    * `1F 8B 08` -> gz (gzip transport wrapper, transparently inflated and
    * re-sniffed by extractByFormat); `%PDF-` -> pdf;
    * `PK\x03\x04` -> "docx" (the OOXML-container token —
    * magic bytes cannot tell docx/pptx/xlsx apart; extractOne refines the
    * kind from package content); `{\rtf` -> rtf; the CFB signature
    * `D0 CF 11 E0 A1 B1 1A E1` -> doc/xls/ppt/pub/cfb (refined by the
    * characteristic directory entry; doc/xls/ppt run their kernels,
    * pub/cfb yield explicit failure rows, never a mojibake "success");
    * an ASCII
    * `<office:document` root in the first 1024 bytes -> fodf (flat ODF,
    * checked BEFORE the generic '<' test or office markup would be
    * boilerplate-classified as html); any other '<' in the first 1024
    * bytes -> html; else txt. */
  def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b &&
        bytes(2) == 8) return "gz" // gzip/DEFLATE transport wrapper
    if (bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
        bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-') return "pdf"
    if (bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
        bytes(2) == 3 && bytes(3) == 4) return "docx"
    if (bytes.length >= 5 && bytes(0) == '{' && bytes(1) == '\\' &&
        bytes(2) == 'r' && bytes(3) == 't' && bytes(4) == 'f') return "rtf"
    if (graft.extract.cfb.CfbSniffer.isCfb(bytes))
      return graft.extract.cfb.CfbSniffer.kindOf(bytes)
    val limit = math.min(bytes.length, 1024)
    var i = 0
    while (i < limit) {
      if (bytes(i) == '<') {
        if (startsWithAscii(bytes, i, limit, flatOdfRoot)) return "fodf"
        // scan on: the flat-ODF root may sit after an XML declaration /
        // comment, each of which also begins with '<'
        var j = i + 1
        while (j < limit) {
          if (bytes(j) == '<' && startsWithAscii(bytes, j, limit, flatOdfRoot)) return "fodf"
          j += 1
        }
        return "html"
      }
      i += 1
    }
    "txt"
  }

  private val flatOdfRoot: Array[Byte] =
    "<office:document".getBytes(StandardCharsets.US_ASCII)

  /** bytes[at..] starts with `pat` AND the next char ends the tag name
    * (space or '>'), so `<office:document-content` does not match. */
  private def startsWithAscii(bytes: Array[Byte], at: Int, limit: Int,
                              pat: Array[Byte]): Boolean = {
    if (at + pat.length >= limit) return false
    var k = 0
    while (k < pat.length) {
      if (bytes(at + k) != pat(k)) return false
      k += 1
    }
    val next = bytes(at + pat.length)
    next == ' ' || next == '>' || next == '\t' || next == '\n' || next == '\r'
  }

  /** Per-document payload cap: documents above it yield a failure row
    * (mirrors FileTooLargeError, /root/reference/src/core/exceptions.py:28-30)
    * instead of risking executor OOM at scale. It is the per-stream inflate
    * cap, so an inflated payload honors the same limit as a raw one. */
  val maxPayloadBytes: Int = graft.util.Inflate.maxStreamBytes

  /** Single format-dispatch point — every surface (mapPartitions kernel,
    * native Catalyst expression, SQL-registered UDF) routes through here so
    * a new format cannot be wired into one path and missed in another.
    * Returns (refinedKind, text): container formats refine the sniff token
    * to their actual kind (docx/pptx/xlsx/odt/odp/ods/epub) here, so no
    * caller needs its own refinement branch. */
  def extractByFormat(fmt: String, bytes: Array[Byte]): (String, String) = fmt match {
    case "gz" =>
      // transparent transport decompression (Common-Crawl-style payloads
      // are often stored gzipped): inflate under the payload cap, re-sniff
      // the INNER bytes, and dispatch once — without this branch the
      // compressed bytes fall through the '<'-scan into "txt" and extract
      // binary garbage with success=true, the silent-poison class this
      // dispatcher exists to prevent. The refined kind is the inner
      // document's (gzip is transport, not a document format).
      val inner = gunzip(bytes)
      val innerFmt = sniffFormat(inner)
      require(innerFmt != "gz",
        "nested gzip unsupported (decompression-loop guard)")
      extractByFormat(innerFmt, inner)
    case "pdf" => ("pdf", PdfParser.extract(bytes))
    case "docx" | "pptx" | "xlsx" => graft.extract.ooxml.OoxmlExtractor.extract(bytes)
    case "rtf" => ("rtf", graft.extract.rtf.RtfExtractor.extract(bytes))
    case "fodf" => graft.extract.ooxml.OdfExtractor.extractFlat(bytes)
    case "doc" => ("doc", graft.extract.cfb.DocExtractor.extract(bytes))
    case "xls" => ("xls", graft.extract.cfb.XlsExtractor.extract(bytes))
    case "ppt" => ("ppt", graft.extract.cfb.PptExtractor.extract(bytes))
    case "pub" => ("pub", graft.extract.cfb.PubExtractor.extract(bytes))
    case "cfb" =>
      // a CFB container with none of the known Office streams: an explicit
      // failure row, NEVER a mojibake success from the html/txt fallthrough
      throw new IllegalArgumentException(
        "CFB container has no WordDocument/Workbook/PowerPoint stream")
    case "html" => ("html", HtmlExtractor.extract(bytes))
    case other => (other, Charsets.decode(bytes))
  }

  /** A container kernel's failure once the package kind is known (from its
    * entry names or `mimetype`): [[extractOne]]'s failure row carries `kind`,
    * not the sniff token, and describes `cause`. */
  private[extract] final class KindFailure(val kind: String, cause: Throwable) extends RuntimeException(cause)

  /** Runs `body`, rethrowing a non-fatal failure as a [[KindFailure]] of `kind`. */
  private[extract] def failingAs[A](kind: String)(body: => A): A =
    try body catch { case scala.util.control.NonFatal(e) => throw new KindFailure(kind, e) }

  /** Bounded gunzip through [[graft.util.Inflate.grow]]: output capped at
    * [[maxPayloadBytes]] so a tiny decompression bomb cannot expand past the
    * same limit raw payloads already honor; truncated/corrupt streams throw
    * (contained upstream). The output array is first sized from the gzip
    * trailer's ISIZE (the last member's length mod 2^32). */
  private[graft] def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    val isize = if (n < 18) 0L else graft.util.ByteCursor(bytes).u32le(n - 4)
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try graft.util.Inflate.grow(in, isize, n, 0L, "gzip payload")
    finally in.close()
  }

  /** `s.getBytes(UTF_8).length` without encoding: a lone surrogate
    * counts 1 byte, the `?` that `getBytes` writes for it. */
  private[graft] def utf8Length(s: String): Long = {
    var bytes = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
               Character.isLowSurrogate(s.charAt(i + 1))) { bytes += 4; i += 1 }
      else if (Character.isSurrogate(c)) bytes += 1
      else bytes += 3
      i += 1
    }
    bytes
  }

  /** Total variant: any parse error -> "" (the scalar-function contract);
    * fatal VM errors propagate ([[graft.util.Containment]]). */
  def extractTextOrEmpty(bytes: Array[Byte]): String = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    graft.util.Containment.contained[String](_ => "") {
      extractByFormat(sniffFormat(b), b)._2
    }
  }

  /** Parse failures become `success=false` rows; fatal VM errors
    * (OutOfMemoryError, StackOverflowError, ...) propagate and fail the
    * task so Spark retries it on a healthy executor instead of recording a
    * bogus failure row from a corrupted JVM ([[graft.util.Containment]]). */
  def extractOne(page: WebPage, partitionId: Int): ExtractionResult = {
    val bytes = if (page.html == null) Array.emptyByteArray else page.html
    val fmt = sniffFormat(bytes)
    graft.util.Containment.contained[ExtractionResult] { e =>
      val (kind, cause) = e match {
        case k: KindFailure => (k.kind, k.getCause)
        case _ => (fmt, e)
      }
      ExtractionResult(page.url, success = false, text = "", format_from = kind,
        original_size = bytes.length.toLong, new_size = 0L,
        error = graft.util.Containment.describe(cause), partition_id = partitionId)
    } {
      if (bytes.length > maxPayloadBytes)
        ExtractionResult(page.url, success = false, text = "", format_from = fmt,
          original_size = bytes.length.toLong, new_size = 0L,
          error = s"payload ${bytes.length} bytes exceeds cap $maxPayloadBytes",
          partition_id = partitionId)
      else {
        val (fmtRefined, text) = extractByFormat(fmt, bytes)
        ExtractionResult(page.url, success = true, text = text, format_from = fmtRefined,
          original_size = bytes.length.toLong,
          new_size = utf8Length(text),
          error = "", partition_id = partitionId)
      }
    }
  }
}
