package graft.fixtures

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.WebPage
import graft.serialize.{CfbWriter => _, OoxmlZip => _, _}
import graft.util.NioLocalFileSystem

/** Deterministic synthesis of the Common-Crawl-style webpages table
  * (BASELINE.json input_hint) from the driver's documents.parquet.
  * Pure per-row function of the document — independent of partitioning,
  * session, or time (FIXTURES.md §1). The `text` column carries the expected
  * extraction (golden), derived by the same paragraphization the templates
  * use; replacing '\n' with ' ' in it recovers documents.text exactly.
  *
  * Payload routing (doc_id % 24): EVEN ids -> HTML (50%, the web-scale
  * majority; template (doc_id/2) % 7, encoding (doc_id/14) % 6); ODD ids
  * rotate through the TWELVE structural binary kernels
  * docx, pdf, pptx, xlsx, odt, odp, ods, rtf, doc, xls, ppt, epub,
  * each with a variant rotation over its golden-preserving variants — so
  * the flagship pipeline and the throughput bench (and therefore the
  * north-rule scaling gate) exercise the FULL dispatch surface, including
  * the slowest kernel (EPUB runs the boilerplate classifier per chapter).
  * Flat-ODF stays on its dedicated oracle query (text-sniffed, not a
  * container format).
  */
object Corpus {

  private val epoch = Instant.parse("2024-01-01T00:00:00Z")

  /** Cache-busting token for the /tmp corpus caches below: derived from the
    * fixture matrix shape plus a manually bumped revision, so editing
    * templates/encodings/routing invalidates stale cached corpora instead of
    * silently serving the old fixtures to Verify/Bench. */
  def fixtureVersion: String =
    s"f${HtmlTemplates.numTemplates}t${HtmlTemplates.numEncodings}e${DocxWriter.numVariants}d_r10"

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Odd-slot format wheel: (doc_id % 24) odd -> formats(((doc_id%24)-1)/2).
    * Mirrored EXACTLY by the extract_formats / extract_metrics /
    * stream_metrics oracle SQL. */
  val binaryFormats: IndexedSeq[String] = IndexedSeq(
    "docx", "pdf", "pptx", "xlsx", "odt", "odp", "ods", "rtf", "doc", "xls", "ppt", "epub")

  def formatOf(docId: Long): String =
    if (docId % 2 == 0) "html" else binaryFormats((((docId % 24) - 1) / 2).toInt)

  /** Pure builder: one document row -> one webpage row. */
  def buildPage(doc: Doc, skewHost: Boolean): WebPage = {
    val host =
      if (skewHost && doc.doc_id % 2 == 0) "hot.example.org"
      else s"${doc.source}.example.org"
    val url = s"https://$host/${doc.lang}/doc${doc.doc_id}"
    val ts = Timestamp.from(epoch.plusSeconds(doc.doc_id))
    val paragraphs = HtmlTemplates.paragraphize(doc.text)
    val golden = paragraphs.mkString("\n")
    val r = (doc.doc_id / 24).toInt // variant rotation, independent of slot
    import LegacyOfficeWriters.{DocWriter => LDoc, PptWriter => LPpt, XlsWriter => LXls}
    val payload: Array[Byte] = formatOf(doc.doc_id) match {
      case "html" =>
        val tid = ((doc.doc_id / 2) % HtmlTemplates.numTemplates).toInt
        val encId = ((doc.doc_id / 14) % HtmlTemplates.numEncodings).toInt
        HtmlTemplates.encode(encId, (meta, extra) =>
          HtmlTemplates.render(tid, doc.doc_id, paragraphs, meta, extra))
      case "docx" => DocxWriter.generate(paragraphs, r % DocxWriter.numVariants)
      case "pdf" => PdfWriter.generate(paragraphs, r % PdfWriter.numVariants)
      case "pptx" => PptxWriter.generate(paragraphs, r % PptxWriter.numVariants)
      case "xlsx" => XlsxWriter.generate(paragraphs, (r % 2) * 2) // 0/2 preserve
      case "odt" => OdfWriter.generate("odt", paragraphs, r % 3) // 0-2 preserve
      case "odp" => OdfWriter.generate("odp", paragraphs, r % 3)
      case "ods" => OdfWriter.generate("ods", paragraphs, r % 3)
      case "rtf" => RtfWriter.generate(paragraphs, r % RtfWriter.numVariants)
      case "doc" => LDoc.generate(paragraphs, r % LDoc.numVariants)
      case "xls" =>
        LXls.generate(paragraphs, LXls.verbatimVariants(r % LXls.verbatimVariants.length))
      case "ppt" => LPpt.generate(paragraphs, r % LPpt.numVariants)
      case "epub" => EpubWriter.generate(paragraphs, r % EpubWriter.numVariants)
    }
    // a third of the html payloads ship gzip-wrapped (Common-Crawl-style
    // stored compression): transport-only — the dispatcher inflates and
    // re-sniffs, so format_from and the golden text are unchanged
    val stored =
      if (formatOf(doc.doc_id) == "html" && doc.doc_id % 6 == 0) gzipBytes(payload)
      else payload
    WebPage(url, ts, stored, golden, doc.lang)
  }

  /** Shared gzip-compress helper for fixtures and dispatch tests (the one
    * place the wrapping convention lives). */
  def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b)
    g.close()
    bos.toByteArray
  }

  def synthesize(spark: SparkSession, sfDir: String, skewHost: Boolean = false): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "text", "lang", "source", "n_chars")
      .as[Doc]
      .map(buildPage(_, skewHost))
  }

  /** Deterministically amplified corpus for throughput benchmarks: each
    * source document is replicated `factor` times under distinct doc_ids
    * (offset 1M per replica — disjoint from real ids), so the bench input is
    * `factor`× the docs with the same payload-size/format/host distribution.
    * Replica 0 is the original corpus bit-for-bit. */
  def materializeAmplified(spark: SparkSession, sfDir: String, factor: Int): String = {
    import spark.implicits._
    cached("graft_webpages", sfDir, s"_x$factor") { dir =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("doc_id", "text", "lang", "source", "n_chars")
        .repartition(256)
        .as[Doc]
        .flatMap(d => (0 until factor).iterator.map(i =>
          buildPage(d.copy(doc_id = d.doc_id + 1000000L * i), skewHost = false)))
        .write.mode("overwrite").options(NioLocalFileSystem.writeOptions).parquet(dir)
    }
  }

  /** `java.io.tmpdir/<prefix>_<sfDir><suffix>_<fixtureVersion>`, written by
    * `write` unless a finished copy is already there. */
  private def cached(prefix: String, sfDir: String, suffix: String)(write: String => Unit): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/${prefix}_" +
      sfDir.replaceAll("[^a-zA-Z0-9.]", "_") + s"${suffix}_$fixtureVersion"
    if (!new java.io.File(dir, "_SUCCESS").exists()) write(dir)
    dir
  }

  /** Materialize once per (sfDir, skew) under java.io.tmpdir and read back —
    * keeps synthesis cost out of extraction benchmarks and lets repeated
    * Verify/Bench queries share one parquet. Deterministic, so caching is safe. */
  def materialize(spark: SparkSession, sfDir: String, skewHost: Boolean = false): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.parquet(materializedDir(spark, sfDir, skewHost)).as[WebPage]
  }

  /** Same cache as [[materialize]] but returns the parquet DIRECTORY — the
    * input shape the streaming file source needs. */
  def materializedDir(spark: SparkSession, sfDir: String, skewHost: Boolean = false): String =
    cached("graft_webpages", sfDir, if (skewHost) "_skew" else "") { dir =>
      synthesize(spark, sfDir, skewHost).repartition(32).write.mode("overwrite")
        .options(NioLocalFileSystem.writeOptions).parquet(dir)
    }

  /** Amplified DOCUMENTS table (doc_id, text, lang) for curation-tier
    * benchmarks: the same deterministic replication rule as
    * [[materializeAmplified]] (doc_id offset 1M per replica) but without
    * payload synthesis — the funnel consumes raw text. Cached once per
    * (sfDir, factor) under java.io.tmpdir. */
  def materializeAmplifiedDocs(spark: SparkSession, sfDir: String, factor: Int): String = {
    import org.apache.spark.sql.functions._
    cached("graft_docs", sfDir, s"_docs_x$factor") { dir =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
        .select((col("doc_id") + col("rep").cast("long") * 1000000L).as("doc_id"),
          col("text"), col("lang"))
        .repartition(64)
        .write.mode("overwrite").options(NioLocalFileSystem.writeOptions).parquet(dir)
    }
  }
}
