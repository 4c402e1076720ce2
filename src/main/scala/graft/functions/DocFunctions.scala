package graft.functions

import java.nio.charset.StandardCharsets
import java.nio.charset.CodingErrorAction

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.extract.html.{Charsets, HtmlExtractor}
import graft.extract.pdf.PdfParser

/** Scalar-function surface (SURVEY §2.6 F5-F11, §2.1 S4 formats catalog,
  * §2.9 SQL registration). Everything expressible as a Catalyst column
  * expression is one (codegen'd); the probe/kernel functions are Scala
  * functions additionally registered as SQL UDFs so the whole engine is
  * reachable from `spark.sql`.
  */
object DocFunctions {

  // ---- S4: formats catalog (document_converters.py:14-27) ------------------

  /** The engine's supported-format catalog: payload kinds it can extract
    * (sniffed, not extension-routed) and the reference's document-converter
    * whitelists kept for API parity (callers gate batch inputs on these —
    * the Spark analog of `GET /api/formats/document`, server.py:31-33). */
  val supportedFormats: Map[String, Seq[String]] = Map(
    "payload" -> Seq(
      "html", "pdf", "txt", "rtf",
      "docx", "pptx", "xlsx", "odt", "odp", "ods",
      "fodt", "fodp", "fods", "epub",
      "doc", "xls", "ppt", "pub"),
    "input" -> Seq(
      ".txt", ".rtf", ".doc", ".docx", ".odt", ".ott", ".sxw",
      ".xls", ".xlsx", ".ods", ".ots", ".csv",
      ".ppt", ".pptx", ".odp", ".otp",
      ".pub", ".html", ".htm", ".xml", ".epub",
      ".fodt", ".fods", ".fodp"),
    "output" -> Seq(
      ".pdf", ".txt", ".rtf", ".doc", ".docx", ".odt", ".html", ".xml",
      ".xls", ".xlsx", ".ods", ".csv", ".ppt", ".pptx", ".odp", ".epub"))

  /** P5 whitelist predicate: rows outside the whitelist become error rows,
    * not exceptions (document_converters.py:78-87). */
  def isSupported(ext: Column, direction: String): Column =
    normalizeExt(ext).isin(supportedFormats(direction): _*)

  // ---- F5: extension normalize (document_converters.py:82-84) --------------

  def normalizeExt(ext: Column): Column = {
    val lowered = lower(trim(ext))
    when(startswith(lowered, lit(".")), lowered)
      .otherwise(concat(lit("."), lowered))
  }

  // ---- F6: target-format map (document_converters.py:29-49) ----------------

  /** ext -> extraction-kernel id; unknown extensions default to the bare
    * extension (the reference's `target_map.get(fmt, fmt[1:])`). In this
    * engine only three kernels exist, so the map collapses to kernel routing;
    * kept total for API parity. */
  def kernelFor(ext: Column): Column = {
    val e = normalizeExt(ext)
    when(e.isin(".html", ".htm", ".xml", ".xhtml"), "html")
      .when(e === ".pdf", "pdf")
      .when(e === ".docx", "docx")
      .otherwise(regexp_replace(e, "^\\.", ""))
  }

  // ---- F7: bytes-to-readable (base_converter.py:61-67) ---------------------

  /** /1024 ladder with 2 decimals: "1.50 KB". Pure column expression. */
  def bytesReadable(n: Column): Column = {
    val d = n.cast("double")
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    val expr = units.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (u, i)) =>
      val scaled = d / math.pow(1024.0, i)
      when(acc.isNotNull, acc).otherwise(
        when(scaled < 1024.0, format_string(s"%.2f $u", scaled)).otherwise(lit(null)))
    }
    coalesce(expr, format_string("%.2f EB", d / math.pow(1024.0, 6)))
  }

  // ---- F9: is_binary probe (base_converter.py:80-87) -----------------------

  /** Strict UTF-8 decode of the first 1024 bytes; any malformed sequence ->
    * binary. (The reference does a whole-read text probe; prefix-bounded here
    * so the probe is O(1) per document at any payload size.) */
  def isBinaryBytes(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.isEmpty) return false
    val probe = java.util.Arrays.copyOf(bytes, math.min(bytes.length, 1024))
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      // a multi-byte char cut at the probe boundary is not "binary": allow underflow
      val bb = java.nio.ByteBuffer.wrap(probe)
      val cb = java.nio.CharBuffer.allocate(2048)
      val res = dec.decode(bb, cb, false)
      res.isMalformed || res.isUnmappable
    } catch { case _: Throwable => true }
  }

  // ---- F10: mime guess (base_converter.py:45,56) ---------------------------

  private val ooxmlMimes = Map(
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")

  private val cfbMimes = Map(
    "doc" -> "application/msword",
    "xls" -> "application/vnd.ms-excel",
    "ppt" -> "application/vnd.ms-powerpoint")

  /** Content-level mime sniff (the engine's analog of mimetypes.guess_type +
    * octet-stream fallback, base_converter.py:45,56 — content-derived here
    * because payloads carry no filename). Zip containers refine by PACKAGE
    * CONTENT through the same machinery as extraction dispatch: OOXML per
    * entry names, ODF/EPUB per their `mimetype` entry (returned verbatim);
    * anything else PK-prefixed is plain application/zip. Legacy CFB refines
    * doc/xls/ppt via the directory stream name. */
  def mimeGuessBytes(b: Array[Byte]): String = {
    val bytes = if (b == null) Array.emptyByteArray else b
    Extractor.sniffFormat(bytes) match {
      case "gz" => "application/gzip"
      case "pdf" => "application/pdf"
      case "rtf" => "application/rtf"
      case "fodf" => "application/xml"
      case k @ ("doc" | "xls" | "ppt") => cfbMimes(k)
      case "pub" => "application/x-mspublisher"
      case "cfb" => "application/x-ole-storage"
      case "docx" => zipMime(bytes) // the PK sniff token: refine by content
      case "html" => "text/html"
      case _ => "application/octet-stream"
    }
  }

  /** One reader per payload: the OOXML kind from its index, else the
    * `mimetype` entry. */
  private def zipMime(bytes: Array[Byte]): String =
    try {
      val zip = graft.util.ZipReader(bytes)
      graft.extract.ooxml.OoxmlExtractor.ooxmlKind(zip).map(ooxmlMimes)
        .orElse(zip.read("mimetype")
          .map(m => new String(m, StandardCharsets.UTF_8).trim)
          .filter(m => graft.extract.ooxml.OdfExtractor.kindOfMimetype(m).isDefined ||
            m == graft.extract.epub.EpubExtractor.mimetype))
        .getOrElse("application/zip")
    } catch { case NonFatal(_) => "application/zip" }

  /** Column wrapper over [[mimeGuessBytes]] (a kernel probe, not a prefix
    * expression — container refinement needs the archive directory). */
  def mimeGuess(bin: Column): Column =
    udf((b: Array[Byte]) => mimeGuessBytes(b)).apply(bin)

  // ---- F11: ISO timestamps (base_converter.py:52-54,91) --------------------

  def isoTimestamp(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  // ---- §2.9: SQL registration ----------------------------------------------

  /** Register the kernel + probe functions for the SQL surface:
    * `SELECT graft_extract(html) FROM webpages`. The typed mapPartitions
    * path stays the production hot path (per-partition amortization); these
    * exist for ad-hoc SQL and tests. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("graft_sniff_format", (b: Array[Byte]) =>
      Extractor.sniffFormat(if (b == null) Array.emptyByteArray else b))
    spark.udf.register("graft_extract_html", (b: Array[Byte]) => HtmlExtractor.extract(b))
    spark.udf.register("graft_extract_pdf", (b: Array[Byte]) => PdfParser.extract(b))
    spark.udf.register("graft_extract_docx", (b: Array[Byte]) =>
      graft.extract.docx.DocxExtractor.extract(b))
    spark.udf.register("graft_extract", (b: Array[Byte]) =>
      Extractor.extractTextOrEmpty(b))
    // refined container kind (docx/pptx/xlsx/odt/odp/ods/epub/...) — the
    // content-level complement of graft_sniff_format's magic-byte token
    spark.udf.register("graft_extract_kind", (b: Array[Byte]) => {
      val bytes = if (b == null) Array.emptyByteArray else b
      try Extractor.extractByFormat(Extractor.sniffFormat(bytes), bytes)._1
      catch { case _: Throwable => "error" }
    })
    spark.udf.register("graft_is_binary", (b: Array[Byte]) => isBinaryBytes(b))
    spark.udf.register("graft_mime_guess", (b: Array[Byte]) => mimeGuessBytes(b))
    spark.udf.register("graft_simhash64", (t: String) =>
      graft.dedup.Dedup.simhash64(if (t == null) "" else t))
    spark.udf.register("graft_lang_id", (t: String) =>
      graft.textops.LangId.detect(if (t == null) "" else t)._1)
    spark.udf.register("graft_rolling_fp", (t: String) =>
      graft.textops.TextAnalysis.rollingFingerprint(if (t == null) "" else t))
  }
}
