package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.curation.WebCuration
import graft.dataconv.{FormatCodecs, VersionMappers}
import graft.dedup.Dedup
import graft.fixtures.Corpus
import graft.multimodal.Multimodal
import graft.pipeline.ExtractionPipeline
import graft.similarity.Similarity
import graft.sources.WarcSource
import graft.textops.{LangId, TextAnalysis}
import graft.util.NioLocalFileSystem

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2), with a DuckDB-equivalent oracle SQL wherever the
  * semantics are ANSI-SQL-expressible. Kernel operators (HTML/PDF
  * extraction) are oracled end-to-end through the corpus round-trip
  * invariant: extracted text with newlines respaced == documents.text.
  */
object SparkEntry {

  /** Flagship: extraction over the synthesized sf0.001 corpus — one row per
    * (format, success) with byte-identity match counts. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Corpus.materialize(spark, "/root/testdata/sf0.001")
    ExtractionPipeline.verifyAgainstGolden(pages, spark.sparkContext.defaultParallelism)
      .groupBy(col("format_from"), col("success"))
      .agg(count(lit(1)).as("docs"), sum(when(col("matches"), 1L).otherwise(0L)).as("matched"))
  }

  // ---- shared synthetic inputs (mirrored 1:1 in the oracle SQL) ------------

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def extractDF(s: SparkSession, dir: String): DataFrame = {
    val pages = Corpus.materialize(s, dir)
    ExtractionPipeline.extract(pages, s.sparkContext.defaultParallelism).toDF()
      .withColumn("doc_id", regexp_extract(col("url"), "doc([0-9]+)$", 1).cast("long"))
  }

  /** documents ∪ exact copies of every 5th doc (id offset +100000). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("id"), col("text")))
  }

  /** documents ∪ near-duplicates of every 5th doc: the 50th, 100th, …
    * (1-based) words dropped. Matches the oracle's
    * list_filter(words, (w,i) -> i % 50 != 0) with 1-based i. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val words = split(col("text"), " ")
    val perturbed = array_join(filter(words, (w, i) => (i + 1) % 50 =!= 0), " ")
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("id"), perturbed.as("text")))
  }

  /** embeddings (double-cast) ∪ perturbed copies of every 5th vector. */
  private def nearDupVectors(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val orig = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val pert = e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        x.cast("double") * (lit(1.0) + (pmod(col("vec_id") * 64 + j, lit(7)) - 3) * lit(0.002))).as("v"))
    orig.unionByName(pert)
  }

  /** Scratch dir for queries that must write output: ONE fixed location per
    * (purpose, sfDir), wiped before each use — repeated Verify/Bench/test
    * invocations reuse it instead of accumulating createTempDirectory
    * litter, and a fresh start also guarantees the resume/streaming
    * semantics the queries assert (first run from empty state). */
  private def freshScratchDir(purpose: String, sfDir: String): String = {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"${purpose}_$key")
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  private def v1FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      lit("Cust").as("first_name"),
      lpad(col("c_custkey").cast("string"), 9, "0").as("last_name"),
      concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("email"),
      concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("created_at"),
      when(col("c_custkey") % 3 === 0, "yes")
        .when(col("c_custkey") % 3 === 1, "false")
        .otherwise("1").as("active"))

  private def v2FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      concat(lit("Cust "), lpad(col("c_custkey").cast("string"), 9, "0")).as("fullName"),
      concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("emailAddress"),
      concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
      when(col("c_custkey") % 2 === 0, "active").otherwise("inactive").as("status"))

  private def v3FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      struct(lit("Cust").as("first"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("last")).as("name"),
      struct(concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("email")).as("contact"),
      struct(concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
        (col("c_custkey") % 2 === 0).as("active")).as("meta"))

  /** Documents with the gopher-fixture suffix: every 23rd doc gets 10
    * all-numeric words appended, flipping its alpha-ratio rule (mirrored in
    * the cur_gopher_quality oracle's `g` CTE). */
  private def gopherDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 23 === 0,
        lit(" 0000 1111 2222 3333 4444 5555 6666 7777 8888 9999"))
        .otherwise(lit(""))).as("text"))

  /** Documents with deterministic PII planted by doc_id % 4: an email, an
    * IPv4, a phone number, or nothing (mirrored in the cur_pii_scrub
    * oracle's `p` CTE). */
  private def piiDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val extra = when(id % 4 === 0,
        concat(lit(" contact cust"), id.cast("string"), lit("@mail.example.com for details")))
      .when(id % 4 === 1,
        concat(lit(" server 10."), (id % 200).cast("string"), lit(".0."),
          (id % 250).cast("string"), lit(" up")))
      .when(id % 4 === 2,
        concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"), lit(" now")))
      .otherwise(lit(""))
    docs(s, dir).select(id, concat(col("text"), extra).as("text"))
  }

  /** Recrawl fixture: every document seen twice — an uncanonical first crawl
    * (mixed case, :80 port, #fragment) and a canonical later one (trailing
    * slash, ts + 1e6) — so urlDedupLatest must fold each pair and keep the
    * later snapshot (mirrored in the cur_url_dedup oracle's `r` CTE). */
  private def recrawlUrls(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val id = col("doc_id")
    val first = d.select(
      concat(lit("HTTP://Host"), (id % 50).cast("string"), lit(".Example.COM:80/p/"),
        id.cast("string"), lit("#frag")).as("url"),
      id.as("ts"))
    val recrawl = d.select(
      concat(lit("http://host"), (id % 50).cast("string"), lit(".example.com/p/"),
        id.cast("string"), lit("/")).as("url"),
      (id + 1000000L).as("ts"))
    first.unionByName(recrawl)
  }

  /** Per-document extraction queries: `payload(doc_id, text)` writes each
    * source document in one format, `extractOne` reads it back, and the row
    * is (doc_id, refined format_from, success, text with '\n' respaced),
    * plus `has_error` when `withError`. */
  private def extractEach(s: SparkSession, dir: String, withError: Boolean = false)(
      payload: (Long, String) => Array[Byte]): DataFrame = {
    import s.implicits._
    val rows = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val r = graft.extract.Extractor.extractOne(
          graft.model.WebPage(s"doc$id", new java.sql.Timestamp(0), payload(id, t), "", "en"), 0)
        (id, r.format_from, r.success, r.text.replace('\n', ' '), r.error.nonEmpty)
      }.toDF("doc_id", "format_from", "success", "text", "has_error")
    (if (withError) rows else rows.drop("has_error")).orderBy("doc_id")
  }

  // --------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction kernels (K2 html / K3 pdf / S2 sniff / S15 metrics) ----
    "extract_roundtrip" -> ((s, dir) => extractDF(s, dir)
      .select(col("doc_id"), regexp_replace(col("text"), "\n", " ").as("text"))
      .orderBy("doc_id")),
    "extract_formats" -> ((s, dir) => extractDF(s, dir)
      .select(col("doc_id"), col("format_from")).orderBy("doc_id")),
    "extract_metrics" -> ((s, dir) => extractDF(s, dir)
      .groupBy(col("format_from"))
      .agg(count(lit(1)).cast("bigint").as("docs"),
        sum(col("new_size")).cast("bigint").as("bytes_out"),
        sum(when(!col("success"), 1L).otherwise(0L)).cast("bigint").as("failures"))
      .orderBy("format_from")),

    // PPTX/XLSX byte-identity: payloads synthesized per doc inside the
    // query (corpus routing stays docx), extracted, refined kind asserted,
    // newline-respaced text must equal the source document exactly
    "extract_pptx" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      val paras = graft.fixtures.HtmlTemplates.paragraphize(t)
      graft.serialize.PptxWriter.generate(
        paras, (id % graft.serialize.PptxWriter.numVariants).toInt)
    }),
    "extract_xlsx" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      val paras = graft.fixtures.HtmlTemplates.paragraphize(t)
      // variants 0 (shared strings) and 2 (inline, stored archive):
      // the ones whose cell layout reproduces the paragraphs verbatim
      graft.serialize.XlsxWriter.generate(paras, (id % 2).toInt * 2)
    }),

    "extract_rtf" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      graft.serialize.RtfWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t),
        (id % graft.serialize.RtfWriter.numVariants).toInt)
    }),
    "extract_odf" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      val kind = Seq("odt", "odp", "ods")((id % 3).toInt)
      // variants 0-2 preserve the paragraph layout for every kind
      graft.serialize.OdfWriter.generate(
        kind, graft.fixtures.HtmlTemplates.paragraphize(t), ((id / 3) % 3).toInt)
    }),

    // ODF TEMPLATE kinds (.ott/.otp/.ots) and StarOffice .sxw — whitelisted
    // inputs sharing the content.xml grammar: templates differ only in
    // mimetype, sxw carries the legacy OOo-1.x namespace URIs. Variants 0-2
    // preserve the paragraph layout for every kind (as in extract_odf).
    "extract_odf_templates" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      val kind = Seq("ott", "otp", "ots", "sxw")((id % 4).toInt)
      graft.serialize.OdfWriter.generate(
        kind, graft.fixtures.HtmlTemplates.paragraphize(t), ((id / 4) % 3).toInt)
    }),

    // flat-ODF single-file XML (.fodt/.fodp/.fods) — same content grammar,
    // no zip; variant 2 omits office:mimetype to hit the body-element
    // fallback. Byte-identity vs the source document, like extract_odf.
    "extract_fodf" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      val kind = Seq("odt", "odp", "ods")((id % 3).toInt)
      graft.serialize.OdfWriter.generateFlat(
        kind, graft.fixtures.HtmlTemplates.paragraphize(t), ((id / 3) % 3).toInt)
    }),

    // EPUB with real OPF-spine ordering — variant 4's chapter files are
    // publisher-named DESCENDING, so only parsing content.opf's <spine>
    // (not any filename convention) reproduces the document
    "extract_epub" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      graft.serialize.EpubWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t),
        (id % graft.serialize.EpubWriter.numVariants).toInt)
    }),

    // Legacy binary Office (.doc/.xls/.ppt in CFB): real piece-table /
    // BIFF8 / record-tree kernels — per-document byte-identity like the
    // OOXML family
    "extract_doc" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      graft.serialize.LegacyOfficeWriters.DocWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t),
        (id % graft.serialize.LegacyOfficeWriters.DocWriter.numVariants).toInt)
    }),
    "extract_xls" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      // variants 0 (latin shared strings), 2 (wide) and 3 (SST split
      // across Continue records): the paragraph-per-row layouts that
      // reproduce the source verbatim
      val vv = graft.serialize.LegacyOfficeWriters.XlsWriter.verbatimVariants
      graft.serialize.LegacyOfficeWriters.XlsWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t), vv((id % vv.length).toInt))
    }),
    "extract_ppt" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      graft.serialize.LegacyOfficeWriters.PptWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t),
        (id % graft.serialize.LegacyOfficeWriters.PptWriter.numVariants).toInt)
    }),

    "extract_pub" -> ((s, dir) => extractEach(s, dir) { (id, t) =>
      graft.serialize.LegacyOfficeWriters.PubWriter.generate(
        graft.fixtures.HtmlTemplates.paragraphize(t),
        (id % graft.serialize.LegacyOfficeWriters.PubWriter.numVariants).toInt)
    }),

    // Dispatch containment: HOLLOW legacy CFB containers (marker stream
    // only / bare / a Quill-less Publisher shell) must yield EXPLICIT
    // failure rows with the refined kind — never a mojibake success —
    // while flat-ODF and txt payloads extract.
    // (Well-formed doc/xls/ppt/pub succeed:
    // extract_doc/extract_xls/extract_ppt/extract_pub.)
    "extract_dispatch" -> ((s, dir) => extractEach(s, dir, withError = true) { (id, t) =>
      (id % 9) match {
        case 0 => graft.serialize.CfbWriter.generate("doc")
        case 1 => graft.serialize.CfbWriter.generate("xls")
        case 2 => graft.serialize.CfbWriter.generate("ppt")
        case 3 => graft.serialize.CfbWriter.generate("raw")
        case 4 => graft.serialize.OdfWriter.generateFlat(
          "odt", graft.fixtures.HtmlTemplates.paragraphize(t), 0)
        case 5 => graft.serialize.CfbWriter.generate("pub")
        case 6 => t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case 7 => // gzip transport wrapper: transparently inflated
          graft.fixtures.Corpus.gzipBytes(
            t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case _ => // gzip magic with a corrupt body: failure, not garbage
          Array[Byte](0x1f.toByte, 0x8b.toByte, 8) ++
            "not really deflate".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    }),

    // ---- structured-data conversion (K4, S5-S12, F1-F4, P1-P4) -------------
    "dc_v1_to_v2" -> ((s, dir) =>
      VersionMappers.mapVersion(v1FromCustomer(s, dir), "v1", "v2", keep = Seq("c_custkey"))
        .select(col("c_custkey"), col("fullName").as("full_name"),
          col("emailAddress").as("email_address"), col("createdAt").as("created_at"),
          col("status"))
        .orderBy("c_custkey")),
    "dc_v2_to_v3" -> ((s, dir) =>
      VersionMappers.mapVersion(v2FromCustomer(s, dir), "v2", "v3", keep = Seq("c_custkey"))
        .select(col("c_custkey"),
          col("name.first").as("name_first"), col("name.last").as("name_last"),
          col("contact.email").as("contact_email"),
          col("meta.createdAt").as("meta_created_at"), col("meta.active").as("meta_active"))
        .orderBy("c_custkey")),
    "dc_v3_roundtrip" -> ((s, dir) =>
      VersionMappers.mapVersion(v3FromCustomer(s, dir), "v3", "v1", keep = Seq("c_custkey"))
        .orderBy("c_custkey")),
    "dc_sample" -> ((s, dir) =>
      VersionMappers.mapVersion(FormatCodecs.sampleV1(s), "v1", "v2")
        .select(col("fullName").as("full_name"), col("emailAddress").as("email_address"),
          col("createdAt").as("created_at"), col("status"))
        .orderBy("full_name")),
    "dc_csv_roundtrip" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"), col("c_name"),
        concat(lit("seg \""), col("c_mktsegment"), lit("\", ok")).as("note"))
      val line = FormatCodecs.toCsvLine(col("c_custkey"), col("c_name"), col("note"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, note STRING")
      base.select(FormatCodecs.parseCsvLine(line, schema).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.note").as("note"))
        .orderBy("c_custkey")
    }),
    "dc_ndjson_roundtrip" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
      base.select(FormatCodecs.parseNdjsonLine(
          FormatCodecs.toNdjsonLine(col("c_custkey"), col("c_name"), col("c_acctbal")), schema).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.c_acctbal").as("c_acctbal"))
        .orderBy("c_custkey")
    }),
    "dc_keyvalue_roundtrip" -> ((s, dir) => {
      val doc = concat(
        lit("# customer record\n"),
        lit("name = "), col("c_name"), lit("\n"),
        lit("segment="), col("c_mktsegment"), lit("\n"),
        lit("not a kv line\n"),
        lit("balance = "), col("c_acctbal").cast("string"))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), FormatCodecs.parseKeyValue(doc).as("m"))
        .select(col("c_custkey"),
          element_at(col("m"), "name").as("name"),
          element_at(col("m"), "segment").as("segment"),
          element_at(col("m"), "balance").cast("double").as("balance"))
        .orderBy("c_custkey")
    }),
    // A2/S10 header union: the csv-serialize header rule (sorted union of
    // all rows' keys) over a corpus whose rows carry different key sets
    "dc_header_union" -> ((s, dir) => {
      import s.implicits._
      val maps = s.read.parquet(s"$dir/customer.parquet").select(
        when(col("c_custkey") % 3 === 0,
          map(lit("name"), col("c_name"), lit("segment"), col("c_mktsegment")))
          .when(col("c_custkey") % 3 === 1,
            map(lit("name"), col("c_name"), lit("balance"), col("c_acctbal").cast("string")))
          .otherwise(map(lit("nation"), col("c_nationkey").cast("string"))).as("m"))
      FormatCodecs.headerUnion(maps, "m").toDF("header")
    }),

    // S12 keyvalue serialize: map column -> key=value lines (entry order)
    "dc_keyvalue_serialize" -> ((s, dir) =>
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          FormatCodecs.stringifyKeyValue(
            map(lit("name"), col("c_name"),
              lit("segment"), col("c_mktsegment"),
              lit("balance"), col("c_acctbal").cast("string"))).as("kv"))
        .orderBy("c_custkey")),
    "dc_split_merge" -> ((s, dir) => {
      val docs0 = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val chunks = graft.dataconv.FileChunks.split(docs0, "doc_id", "payload", 256)
      graft.dataconv.FileChunks.merge(chunks)
        .select(col("id").as("doc_id"), col("n_parts"),
          col("merged").cast("string").as("restored"))
        .orderBy("doc_id")
    }),
    // S9 JSON serialize: byte-compatible with the server's
    // json.dumps(indent=2) — 2-space indent, ensure_ascii \uXXXX escapes,
    // python bool casing. The oracle rebuilds the exact string in SQL.
    "dc_json_pretty" -> ((s, dir) => {
      val rec = struct(
        lit("Cust").as("firstName"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("lastName"),
        concat(lit("cust"), col("c_custkey").cast("string"), lit("@exämple.com")).as("email"),
        concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
        (col("c_custkey") % 2 === 0).as("active"))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), graft.dataconv.PrettyJson.prettyStruct(rec).as("js"))
        .orderBy("c_custkey")
    }),
    "dc_json_parse" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy("event_id")),

    // ---- scalar-function surface (S4/P5/F5-F7/F9-F11) ----------------------
    // One row per document exercising ext-normalize, kernel routing, the
    // whitelist predicate, bytes-readable (three /1024 rungs), the binary
    // probe (even rows valid UTF-8, odd rows carry a 0xFF byte), magic-byte
    // mime and ISO timestamps; the oracle recomputes every column in SQL.
    "fn_surface" -> ((s, dir) => {
      import graft.functions.DocFunctions
      val d = docs(s, dir)
      val ext = when(col("doc_id") % 3 === 0, "PDF")
        .when(col("doc_id") % 3 === 1, ".docx")
        .otherwise("woff")
      val badByte = lit(Array(0xff.toByte))
      val payload = when(col("doc_id") % 2 === 0, col("text").cast("binary"))
        .otherwise(concat(badByte, col("text").cast("binary")))
      val mimePayload = when(col("doc_id") % 3 === 0, concat(lit("%PDF-"), col("text")).cast("binary"))
        .when(col("doc_id") % 3 === 1, concat(lit("{\\rtf1 "), col("text")).cast("binary"))
        .otherwise(concat(lit("plain "), col("text")).cast("binary"))
      val isBin = udf((b: Array[Byte]) => DocFunctions.isBinaryBytes(b))
      d.select(
        col("doc_id"),
        DocFunctions.normalizeExt(ext).as("ext_norm"),
        DocFunctions.kernelFor(ext).as("kernel"),
        DocFunctions.isSupported(ext, "input").as("in_whitelist"),
        DocFunctions.bytesReadable(col("n_chars")).as("size_b"),
        DocFunctions.bytesReadable(col("n_chars") * 1024L).as("size_kb"),
        DocFunctions.bytesReadable(col("n_chars") * 1024L * 1024L).as("size_mb"),
        isBin(payload).as("is_binary"),
        DocFunctions.mimeGuess(mimePayload).as("mime"),
        DocFunctions.isoTimestamp(
          expr("timestampadd(SECOND, doc_id, TIMESTAMP '2024-01-01 00:00:00')")).as("iso_ts"))
        .orderBy("doc_id")
    }),

    // S4 formats catalog as rows (the GET /api/formats analog)
    "fn_formats" -> ((s, dir) => {
      import s.implicits._
      graft.functions.DocFunctions.supportedFormats.toSeq
        .flatMap { case (direction, exts) => exts.map(direction -> _) }
        .toDF("direction", "ext")
        .orderBy("direction", "ext")
    }),

    // F10 content-refined mime: real container payloads (OOXML / ODF / EPUB
    // / CFB / pdf / plain) must each report their own mime — the PK magic
    // alone is ambiguous, refinement reads the package
    "fn_mime" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val paras = graft.fixtures.HtmlTemplates.paragraphize(t)
          val bytes: Array[Byte] = (id % 8) match {
            case 0 => graft.serialize.DocxWriter.generate(paras, 0)
            case 1 => graft.serialize.PptxWriter.generate(paras, 0)
            case 2 => graft.serialize.XlsxWriter.generate(paras, 0)
            case 3 => graft.serialize.OdfWriter.generate(
              Seq("odt", "odp", "ods")(((id / 8) % 3).toInt), paras, 0)
            case 4 => graft.serialize.EpubWriter.generate(paras, 0)
            case 5 => graft.serialize.CfbWriter.generate(
              Seq("doc", "xls", "ppt")(((id / 8) % 3).toInt))
            case 6 => ("%PDF-1.4 " + t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case _ => ("plain " + t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          (id, graft.functions.DocFunctions.mimeGuessBytes(bytes))
        }.toDF("doc_id", "mime")
        .orderBy("doc_id")
    }),

    // ---- text analysis (training-data tier) --------------------------------
    "ta_tokens" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("int").as("n_tokens"),
        col("n_chars").cast("bigint").as("n_chars"))
      .orderBy("doc_id")),
    "ta_quality" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(docs(s, dir), "doc_id", "text").orderBy("doc_id")),
    "ta_fingerprint" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .orderBy("doc_id")),
    // The synthetic documents all draw from one English-ish vocabulary, so
    // the raw text carries no language signal for its random `lang` label.
    // The FIXTURE layer (graft.fixtures.LangProse) therefore substitutes a
    // per-document window of NATURAL public-domain prose in the labeled
    // language — real sentences with genuine cross-language ambiguity
    // (shared Romance function words, de/en homographs), no synthetic
    // markers — and the kernel is scored on that corpus: the oracle
    // asserts 100%.
    "ta_langid" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id"), col("lang"))
        .as[(Long, String)]
        .map { case (id, lang) =>
          (lang, LangId.detect(graft.fixtures.LangProse.sample(lang, id))._1)
        }
        .toDF("lang", "lang_pred")
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("docs"),
          sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
            .cast("bigint").as("correct"))
        .orderBy("lang")
    }),

    // ---- deduplication (training-data tier) --------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(dupCorpus(s, dir), "text")
        .select(col("h"), col("cnt").cast("bigint").as("cnt")).orderBy("h")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")),
    "dedup_exact_survivors" -> ((s, dir) =>
      Dedup.exactDupSurvivors(dupCorpus(s, dir), "id", "text").orderBy("id")),
    // Exact repeated-substring spans (Lee et al. ExactSubstr, the
    // suffix-array dedup re-shaped as a one-shuffle window-hash job):
    // every 8-token window hashed, corpus-wide df counted, per-doc
    // maximal runs of duplicated windows reported. The documents table
    // carries enough cross-doc boilerplate for a non-trivial dup set.
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringDupSpans(docs(s, dir), "doc_id", "text").orderBy("doc_id")),
    // cluster labels: min reachable id through the (LSH-found, exactly
    // verified) near-dup pairs; oracle recomputes via a recursive CTE
    "dedup_clusters" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text")
      Dedup.nearDupClusters(corpus.select("id"), pairs).orderBy("id")
    }),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(nearDupVectors(s, dir), "vec_id", "v", 0.9)
        .orderBy("a_id", "b_id")),

    // ---- similarity search (training-data tier) ----------------------------
    "sim_topk" -> ((s, dir) => {
      val all = nearDupVectors(s, dir).filter(col("vec_id") < 100000) // originals, double-cast
      Similarity.topKBruteForce(all, all.filter(col("vec_id") < 5), "vec_id", "v", 10)
        .orderBy("qid", "rank")
    }),
    // ANN results are approximate by construction, so the oracled contract
    // is a per-query recall@10 gate against the exact brute-force top-k
    // computed over the same input: the oracle asserts recall_ok for every
    // query — a recall regression breaks the hash, not just a vibe.
    "sim_ann_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding", 10)
      val approx = Similarity.annIvf(e, q, "vec_id", "embedding", 10)
      Similarity.recallAtK(exact, approx)
        .select(col("qid"), (col("recall") >= 0.7).as("recall_ok"))
        .orderBy("qid")
    }),
    "sim_ann_lsh" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding", 10)
      val approx = Similarity.annLsh(e, q, "vec_id", "embedding", 10)
      Similarity.recallAtK(exact, approx)
        .select(col("qid"), (col("recall") >= 0.7).as("recall_ok"))
        .orderBy("qid")
    }),

    // A4 ordered audio-merge fold over a constructed durations table
    "mm_audio_merge" -> ((s, dir) =>
      graft.multimodal.MediaOps.mergeDurations(
        s.read.parquet(s"$dir/orders.parquet")
          .select((col("o_custkey") % 100).as("grp"),
            (col("o_orderkey") % 10000).as("duration_ms")),
        "grp")
        .orderBy("grp")),

    // Production serialize surface over the reference's OUTPUT whitelist
    // (document_converters.py:22-26): text -> target-format bytes for all
    // 16 formats, then back through the REAL sniff+extract dispatch —
    // extract(serialize(text, fmt)) must reproduce the document
    // byte-identically (csv via the declared csvToText inverse)
    "serialize_roundtrip" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val fmt = graft.serialize.Serialize.outputFormats(
            (id % graft.serialize.Serialize.outputFormats.length).toInt)
          val golden = graft.fixtures.HtmlTemplates.golden(t)
          val bytes = graft.serialize.Serialize.serialize(golden, fmt)
          val extracted = graft.extract.Extractor.extractByFormat(
            graft.extract.Extractor.sniffFormat(bytes), bytes)._2
          val recovered =
            if (fmt == "csv") graft.serialize.Serialize.csvToText(extracted)
            else extracted
          (id, fmt, recovered == golden, recovered.replace('\n', ' '))
        }.toDF("doc_id", "fmt", "identical", "text")
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL pure-JVM decodes (BMP/PPM pixels, WAV PCM) -------
    // pixel_sum requires a correct stride/padding walk over actual pixel
    // bytes; the oracle recomputes it in closed form from the fixture
    // parameters (constant fill (seed+y)%256 per row, seed+h < 256)
    "mm_decode_bmp" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 3 + (id % 5).toInt
          val seed = (id % 200).toInt
          // wheel sub-splits: half the 8-bpp payloads are BI_RLE8 (same
          // index sum), half the PNM payloads are P5 gray (1 channel, 'L')
          val bytes = (id % 4) match {
            case 0 =>
              if (id % 8 == 0) graft.fixtures.MediaFixtures.bmpRle8(w, h, seed)
              else graft.fixtures.MediaFixtures.bmp(w, h, 8, seed)
            case 1 => graft.fixtures.MediaFixtures.bmp(w, h, 24, seed)
            case 2 => graft.fixtures.MediaFixtures.bmp(w, h, 32, seed, topDown = true)
            case _ => graft.fixtures.MediaFixtures.ppm(w, h, seed, gray = id % 8 == 7)
          }
          Multimodal.MediaRow(id, "", bytes)
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // PNG: the first COMPRESSED format with a real decoder (Inflater +
    // full None/Sub/Up/Average/Paeth unfiltering). Fixtures cycle the
    // filter type per scanline, so pixel_sum only matches the closed-form
    // oracle if filter reconstruction is byte-exact.
    "mm_decode_png" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 3 + (id % 5).toInt
          val seed = (id % 200).toInt
          val colorType = Seq(0, 2, 3, 6, 4)((id % 5).toInt)
          // every third payload Adam7-interlaced: the passes partition the
          // pixels, so the closed-form oracle sum is unchanged
          Multimodal.MediaRow(id, "",
            graft.fixtures.MediaFixtures.png(w, h, colorType, seed,
              adam7 = id % 3 == 0))
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // GIF: second compressed format, decompressor-distinct from PNG —
    // variable-width LSB-first LZW. Geometry sized so most payloads add
    // >253 dictionary entries (~rows x sqrt(2w) codes for constant rows)
    // and cross the 9->10-bit width boundary under the oracle; the unit
    // spec covers the deeper 1024/2048/4096+clear boundaries.
    "mm_decode_gif" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 30 + (id % 25).toInt
          val h = 20 + (id % 17).toInt
          val seed = (id % 200).toInt
          // every third frame interlaced: different LZW stream, same
          // index multiset, so the closed-form oracle sum is unchanged.
          // Every fifth is a SUB-RECT frame at (3,2) on a (w+7)x(h+5)
          // logical screen with background index 9 — the Pillow-semantics
          // canvas compositing path, oracled via the bg-area sum term
          val sub = id % 5 == 4
          Multimodal.MediaRow(id, "", graft.fixtures.MediaFixtures.gif(
            w, h, seed, interlace = id % 3 == 0,
            screenPadRight = if (sub) 4 else 0, screenPadBottom = if (sub) 3 else 0,
            frameLeft = if (sub) 3 else 0, frameTop = if (sub) 2 else 0,
            bgIndex = if (sub) 9 else 0))
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // JPEG: third compressed format — Huffman + dequant + IDCT. Content is
    // band-constant (flat 8x8 blocks -> DC-only at quant step 8), the one
    // shape a LOSSY codec round-trips exactly, enabling a closed-form
    // oracle; geometry includes non-multiple-of-8 dims (MCU padding + crop).
    // Every seventh payload is PROGRESSIVE (SOF2: multi-scan spectral
    // selection + successive approximation + EOB runs) — same pixels as the
    // baseline arm at the same (w, h, seed), so the oracle is unchanged.
    "mm_decode_jpeg" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 10 + (id % 23).toInt
          val h = 9 + (id % 20).toInt
          val seed = (id % 200).toInt
          // every fifth payload carries DRI + RSTn markers (interval 1-3),
          // and half the color payloads are 4:2:0-subsampled: identical
          // pixels in all variants, so the closed-form oracle is unchanged
          val ri = if (id % 5 == 0) 1 + (id % 3).toInt else 0
          val bytes =
            if (id % 7 == 0) {
              if (id % 3 == 0) graft.fixtures.JpegWriter.generateColorProgressive(
                w, h, seed, subsample420 = id % 6 == 0, restartInterval = ri)
              else graft.fixtures.JpegWriter.generateProgressive(w, h, seed, ri)
            }
            else if (id % 6 == 0) graft.fixtures.JpegWriter.generateColor420(w, h, seed, ri)
            else if (id % 3 == 0) graft.fixtures.JpegWriter.generateColor(w, h, seed, ri)
            else graft.fixtures.JpegWriter.generate(w, h, seed, ri)
          Multimodal.MediaRow(id, "", bytes)
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // TIFF: endian-parameterized IFD walk (II and MM payloads interleaved),
    // external LONG strip arrays, gray + RGB — uncompressed, so the sum is
    // the same closed form as BMP/PPM.
    "mm_decode_tiff" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 3 + (id % 5).toInt
          val seed = (id % 200).toInt
          // compression wheel (PackBits / LZW / raw by id % 3): same pixel
          // content in every arm, so the closed-form oracle is unchanged
          Multimodal.MediaRow(id, "", graft.fixtures.MediaFixtures.tiff(
            w, h, rgb = id % 2 == 1, bigEndian = id % 4 >= 2, seed,
            packBits = id % 3 == 0, lzw = id % 3 == 1))
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Real-ecosystem WebP conformance in the oracle gate: the committed
    // fixtures were produced by the SYSTEM libwebp encoder. Rows 0-11
    // (scripts/gen_webp_fixtures.py) exercise every VP8L lossless
    // feature — predictor, cross-color, subtract-green, palette at all
    // four bundling widths, color cache, LZ77 backrefs, meta-prefix
    // groups — with oracle sums computed from the SOURCE pixel
    // generators. Rows 12-18 (scripts/gen_vp8_fixtures.py) are LOSSY VP8
    // key frames at qualities 20-90; their oracle sums are the system
    // libwebp's OWN WebPDecodeRGBA output (reconstruction is
    // integer-exact per RFC 6386), so the full Vp8Codec pipeline —
    // boolean decoder, token trees, dequant, intra predictors, IDCT/WHT,
    // loop filter, fancy upsampler — sits in the hash gate. Rows 26-31
    // (scripts/gen_anim_webp_fixtures.py) are ANIMATED (VP8X+ANMF) files
    // whose every frame is decoded and composited (blend / overwrite /
    // dispose-to-background, WebpCodec.decodeAnimation); pixel_sum there
    // is the composited TIMELINE digest and n_frames the ANMF count.
    "mm_decode_webp" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val k = (id % 32).toInt
          Multimodal.MediaRow(id, "", graft.multimodal.WebpFixtures.bytes(
            if (k < 12) graft.multimodal.WebpFixtures.names(k)
            else if (k < 26) graft.multimodal.WebpFixtures.lossyNames(k - 12)
            else graft.multimodal.WebpFixtures.animNames(k - 26)))
        }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mode"), col("pixel_sum"), col("n_frames"))
        .orderBy("doc_id")
    }),

    // Production image CONVERT surface (the reference's image direction,
    // image_converters.py:118-137): decode source pixels -> re-encode as
    // the wheel's target format -> RE-DECODE the produced bytes. The
    // oracle recomputes geometry/mode/pixel_sum in closed form, so a
    // wrong palette expansion, channel swap, or LZW width bug in the
    // ENCODERS breaks the hash. P sources stay P for png/bmp/gif targets
    // and expand 3x for ppm/tiff; RGB sources palettize exactly for gif
    // (grayscale rows -> first-seen index == row number).
    "mm_convert" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 3 + (id % 5).toInt
          val seed = (id % 200).toInt
          import graft.fixtures.MediaFixtures
          val (srcFmt, bytes) = (id % 6) match {
            case 0 => ("bmp24", MediaFixtures.bmp(w, h, 24, seed))
            case 1 => ("bmp8", MediaFixtures.bmp(w, h, 8, seed))
            case 2 => ("png", MediaFixtures.png(w, h, 2, seed))
            case 3 => ("gif", MediaFixtures.gif(w, h, seed))
            case 4 => ("ppm", MediaFixtures.ppm(w, h, seed))
            case _ => ("tiff", MediaFixtures.tiff(
              w, h, rgb = true, bigEndian = (id / 6) % 2 == 0, seed))
          }
          val dst = graft.multimodal.ImageConvert.encodeFormats(((id / 6) % 5).toInt)
          val out = graft.multimodal.ImageConvert.convertImage(bytes, dst)
          val meta = graft.multimodal.MediaCodecs.decodeImage(out).get
          (id, srcFmt, dst, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "src_fmt", "dst_fmt", "width", "height", "mode", "pixel_sum")
        .orderBy("doc_id")
    }),

    // Real tag containers feeding the K6 mutagen-normalization layer:
    // FLAC (STREAMINFO bit unpacking + vorbis comments) on even ids, mp3
    // ID3v2 text frames (v2.4 syncsafe / v2.3 plain sizes) on ids % 4 == 1,
    // Ogg Vorbis (page walk + identification/comment headers) on the rest,
    // all normalized by MediaOps.audioMetadata — title/artist/album/
    // sample_rate/duration all recomputed in closed form by the oracle.
    "mm_audio_tags" -> ((s, dir) => {
      import s.implicits._
      val parsed = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          if (id % 4 == 0) {
            val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
            val samples = (1 + id % 100) * rate / 4
            val m = graft.multimodal.MediaCodecs.parseFlac(
              graft.fixtures.MediaFixtures.flac(rate, 1 + (id % 8).toInt, 16, samples,
                Seq("TITLE" -> s"T$id", "ARTIST" -> s"A$id", "album" -> s"L$id")))
            (id, ".flac", m.tags, 0, m.sampleRate, m.bitsPerSample, m.durationMs)
          } else if (id % 4 == 2) {
            // .m4a: ISO-BMFF with iTunes ilst tags through the real box walk
            // (mvhd timescale doubles as the audio sample rate, as a real
            // audio-only mp4 mux sets it); duration closed form matches the
            // flac arm's, so the oracle's duration CASE needs no new branch
            val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
            val units = (1 + id % 100) * rate / 4
            val m = graft.multimodal.MediaCodecs.parseMp4(
              graft.fixtures.MediaFixtures.mp4(0, 0, units, rate,
                v1 = id % 8 == 2,
                tags = Seq("©nam" -> s"T$id", "©ART" -> s"A$id", "©alb" -> s"L$id")))
            (id, ".m4a", m.tags, 0, m.timescale.toInt, 0, m.durationMs)
          } else if (id % 4 == 1) {
            val tags = graft.multimodal.MediaCodecs.parseId3v2(
              graft.fixtures.MediaFixtures.mp3Id3(
                Seq("TIT2" -> s"T$id", "TPE1" -> s"A$id", "TALB" -> s"L$id"),
                v24 = id % 8 == 1))
            (id, ".mp3", tags, 128000 + (id % 5).toInt * 32000, 44100, 0, 0L)
          } else { // Ogg Vorbis: real page walk + identification/comment headers
            // wheel on id/4 — ids here all satisfy id % 4 == 3, so id-modulo
            // wheels would be constant
            val rate = Seq(44100, 48000, 96000)((id % 3).toInt)
            val m = graft.multimodal.MediaCodecs.parseOggVorbis(
              graft.fixtures.MediaFixtures.oggVorbis(
                1 + ((id / 4) % 2).toInt, rate, 112000 + ((id / 4) % 4).toInt * 16000,
                Seq("TITLE" -> s"T$id", "ARTIST" -> s"A$id", "ALBUM" -> s"L$id")))
            (id, ".ogg", m.tags, m.bitrateNominal, m.sampleRate, 0, 0L)
          }
        }.toDF("doc_id", "fmt", "tags", "bitrate", "sample_rate",
          "bits_per_sample", "duration_ms")
      graft.multimodal.MediaOps.audioMetadata(parsed, "fmt", "tags")
        .select(col("doc_id"),
          element_at(col("metadata"), "title").as("title"),
          element_at(col("metadata"), "artist").as("artist"),
          element_at(col("metadata"), "album").as("album"),
          element_at(col("metadata"), "sample_rate").as("sample_rate_str"),
          col("duration_ms"))
        .orderBy("doc_id")
    }),

    // MP4/ISO-BMFF container metadata as a batch kernel: real mvhd/tkhd
    // parse (v0 + v1 box layouts, both timescales) with a closed-form
    // duration/geometry oracle — the video tier's structural layer is
    // real even though sample decode stays behind the codec stub.
    "mm_video_meta" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 160 + (id % 8).toInt * 16
          val h = 90 + (id % 6).toInt * 18
          val timescale = if (id % 2 == 0) 1000 else 600
          val units = (1 + id % 240) * 300
          val m = graft.multimodal.MediaCodecs.parseMp4(
            graft.fixtures.MediaFixtures.mp4(w, h, units, timescale, v1 = id % 3 == 0))
          (id, "video/mp4", m.width, m.height, m.durationMs, m.tracks)
        }.toDF("doc_id", "media_type", "width", "height", "duration_ms", "tracks")
        .orderBy("doc_id")
    }),

    // REAL video SAMPLE decode (the tier the codec stub used to cover):
    // MJPEG-in-AVI clips whose every frame chunk is a complete JFIF image
    // reconstructed through the full JPEG pipeline, so frames and pixel_sum
    // are measured from decoded pixels — wrong RIFF alignment, a skipped
    // frame, or any JPEG-stage bug breaks the closed-form oracle. Frames
    // carry per-frame seeds (seed + f), so frame mix-ups are detectable.
    "mm_video_frames" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 10 + (id % 23).toInt
          val h = 9 + (id % 20).toInt
          val seed = (id % 150).toInt
          val frames = 2 + (id % 4).toInt
          val usec = (10 + (id % 30).toInt) * 1000
          Multimodal.MediaRow(id, "",
            graft.fixtures.MediaFixtures.aviMjpeg(w, h, frames, seed, usec))
        }
      Multimodal.decodeVideos(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("frames"), col("duration_ms"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // The feature-extraction kernel's full dispatch surface in one wheel:
    // WebP across all three bitstream variants (lossy VP8 and extended
    // VP8X still + animated on the header path; lossless VP8L through the
    // REAL full pixel decoder), ICO largest-entry dims, real
    // WAV frame counts, and — the point of this query — an UNCLAIMED opaque
    // payload whose row is MARKED error='stub-decode' with zeroed dims:
    // fabricated metadata must be distinguishable from real decodes IN THE
    // DATA (Pillow throws on an undecodable image,
    // /root/reference/src/converters/image_converters.py:66-69 — it never
    // invents pixels).
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = (id % 8) match {
            case 0 =>
              // REAL lossy VP8 fixtures (libwebp-encoded): the full
              // Vp8Codec pixel-decode path, not a header walk
              graft.multimodal.WebpFixtures.bytes(
                graft.multimodal.WebpFixtures.lossyNames(((id / 8) % 7).toInt))
            case 1 =>
              // a REAL lossless stream (our encoder): rides the full
              // VP8L pixel-decode path, not the header walk
              val w = 1 + (id % 200).toInt
              val h = 1 + (id % 100).toInt
              val buf = new graft.multimodal.MediaCodecs.PixelBuf
              buf.init("RGB", w, h)
              var i = 0
              while (i < buf.data.length) {
                buf.data(i) = ((id + i) % 251).toByte
                i += 1
              }
              graft.multimodal.WebpCodec.encode(buf)
            case 2 =>
              // half REAL still VP8X+ALPH (full decode incl. the alpha
              // plane), half synthetic animated with an ANMF frame count —
              // REAL animations decode end-to-end now, but these junk ANMF
              // headers declare >16M cumulative frame pixels, so the
              // routing pre-probe keeps them on the parseWebp header path
              // (real dims + frame count, never an error row)
              if (id % 16 == 2)
                graft.multimodal.WebpFixtures.bytes(
                  graft.multimodal.WebpFixtures.lossyNames(7 + ((id / 16) % 3).toInt))
              else graft.fixtures.MediaFixtures.webp(
                200 + (id % 300).toInt, 150 + (id % 100).toInt,
                variant = 2, frames = 2 + (id % 4).toInt)
            case 3 => graft.fixtures.MediaFixtures.ico(
              32 + (id % 64).toInt, 32 + (id % 32).toInt,
              count = 1 + (id % 3).toInt, seed = (id % 200).toInt)
            case 4 => graft.fixtures.MediaFixtures.wav(
              1, 8000, 100 + (id % 50).toInt, (id % 100).toInt)
            case 5 => graft.fixtures.MediaFixtures.aiff(
              1, 16000, 100 + (id % 50).toInt, (id % 100).toInt)
            case 6 =>
              // heif/avif alternating; half carry a thumbnail whose ispe is
              // listed FIRST (the canvas must still win via pitm/ipma)
              graft.fixtures.MediaFixtures.heif(
                32 + (id % 100).toInt, 24 + (id % 50).toInt,
                brand = if ((id / 8) % 2 == 0) "heic" else "avif",
                thumb = if (id % 16 == 6) Some((8, 6)) else None,
                thumbFirst = true)
            case _ =>
              // opaque binary no parser claims (all bytes >= 0x80, so the
              // html '<'-scan cannot claim it either) -> marked stub row
              Array.tabulate(16 + (id % 32).toInt)(i =>
                (0x80 | ((id + i * 7) & 0x7f)).toByte)
          }
          Multimodal.MediaRow(id, "", bytes)
        }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("n_frames"), col("error"))
        .orderBy("doc_id")
    }),

    // WAV/RIFF header parse feeding the K6 duration algebra: channels /
    // frame_rate / duration from real PCM bytes, then MediaOps.speedup
    "mm_audio_wav" -> ((s, dir) => {
      import s.implicits._
      val parsed = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val channels = 1 + (id % 2).toInt
          val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
          // every fifth payload is 8-bit PCM with wrap-free sample params
          // (n <= 200 and seed + n < 256 keep the oracle an arithmetic series)
          val bits = if (id % 5 == 0) 8 else 16
          val frames = if (bits == 8) 100 else 500 + (id % 7).toInt * 37
          val seed = if (bits == 8) (id % 50).toInt else (id % 100).toInt
          val bytes = graft.fixtures.MediaFixtures.wav(channels, rate, frames, seed, bits)
          val m = graft.multimodal.MediaCodecs.parseWav(bytes)
          val sampleSum = graft.multimodal.MediaCodecs.wavSampleSum(bytes)
          (id, m.channels, m.frameRate, m.bitsPerSample, m.durationMs, sampleSum)
        }.toDF("doc_id", "channels", "frame_rate", "bits_per_sample", "duration_ms",
          "sample_sum")
      graft.multimodal.MediaOps.speedup(
          parsed.withColumn("orig_ms", col("duration_ms")), 2.0)
        .select(col("doc_id"), col("channels").cast("int").as("channels"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("bits_per_sample").cast("int").as("bits_per_sample"),
          col("orig_ms").cast("bigint").as("duration_ms"),
          col("duration_ms").cast("bigint").as("duration_x2_ms"),
          col("sample_sum").cast("bigint").as("sample_sum"))
        .orderBy("doc_id")
    }),

    // REAL pixel geometry ops (the reference's Pillow preprocessing chain,
    // image_converters.py:80-105): decode a row-constant BMP fixture, apply
    // one op from the wheel (crop / rotate90 / flipH / nearest-resize /
    // invert), encode the RESULT to png, re-decode THAT, and report
    // dims/mode/pixel-sum — all recomputed closed-form by the oracle (the
    // fixture rows are (seed + y) % 256 with no wrap, so every op's sum is
    // an arithmetic series or a center-mapped sampling of one).
    "ic_ops" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.multimodal.ImageConvert
          val w = 6 + (id % 8).toInt
          val h = 5 + (id % 6).toInt
          val seed = (id % 200).toInt
          val buf = ImageConvert.decodePixels(
            graft.fixtures.MediaFixtures.bmp(w, h, 24, seed))._2
          val (opName, out) = (id % 5) match {
            case 0 => ("crop", ImageConvert.crop(buf, 1, 1, w - 1, h - 1))
            // the GENERAL inverse-mapped rotation (arbitrary-angle path),
            // which must land pixel-identical to the exact 90 move — so
            // the closed-form oracle covers the transform math too
            case 1 => ("rotate90", ImageConvert.rotateGeneral(buf, 90.0))
            case 2 => ("flip_h", ImageConvert.flip(buf, "horizontal"))
            case 3 => ("resize", ImageConvert.resizeNearest(buf, 2 * w, h + 3))
            case _ => ("invert", ImageConvert.invert(buf))
          }
          val meta = graft.multimodal.MediaCodecs.decodeImage(
            ImageConvert.encode(out, "png")).get
          (id, opName, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "op", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"), col("op"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Header-level dims for the REST of the reference's Pillow input
    // whitelist (image_converters.py:42-48): psd, icns, pcx, jp2, tga,
    // eps, xbm, xpm, svg, svgz — each fixture writes the format's real
    // published header layout; the features kernel must report the real
    // dimensions with an EMPTY error (no whitelist format may fall to the
    // marked stub row when its dims are right there in the bytes).
    "mm_headers" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.fixtures.MediaFixtures
          val w = 20 + (id % 80).toInt
          val h = 12 + (id % 60).toInt
          val bytes = (id % 10) match {
            case 0 => MediaFixtures.psd(w, h)
            case 1 => MediaFixtures.icns(Seq(16,
              Seq(32, 64, 128, 256, 512, 1024)((id % 6).toInt)))
            case 2 => MediaFixtures.pcx(w, h)
            case 3 => MediaFixtures.jp2(w, h)
            case 4 => MediaFixtures.tga(w, h)
            case 5 => MediaFixtures.eps(w, h)
            case 6 => MediaFixtures.xbm(w, h)
            case 7 => MediaFixtures.xpm(w, h)
            case 8 => MediaFixtures.svg(w, h)
            case _ => MediaFixtures.svg(w, h, gzipped = true)
          }
          Multimodal.MediaRow(id, "", bytes)
        }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("error"))
        .orderBy("doc_id")
    }),

    // images -> PDF (the reference's create_pdf, image_converters.py:
    // 181-222): per row, build 2-4 BMP pages, write a REAL multi-page PDF
    // (FlateDecode image XObjects), read the pages back with the
    // independent image-XObject reader, and report page count + per-page-
    // summed samples — all recomputed closed-form from the row-constant
    // fixture patterns.
    "ic_pdf" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.multimodal.ImageConvert
          val n = 2 + (id % 3).toInt
          val pages = (0 until n).map { j =>
            graft.fixtures.MediaFixtures.bmp(
              4 + ((id + j) % 5).toInt, 3 + ((id + j) % 4).toInt, 24,
              seed = ((id + 7 * j) % 200).toInt)
          }
          val pdf = ImageConvert.imagesToPdf(pages)
          val metas = ImageConvert.pdfImages(pdf)
          (id, metas.length, metas.head.width, metas.head.height,
            metas.map(_.pixelSum).sum)
        }.toDF("doc_id", "num_pages", "w0", "h0", "total_sum")
        .select(col("doc_id"), col("num_pages").cast("int").as("num_pages"),
          col("w0").cast("int").as("w0"), col("h0").cast("int").as("h0"),
          col("total_sum").cast("bigint").as("total_sum"))
        .orderBy("doc_id")
    }),

    // REAL convolution filters (the reference's apply_filter registry,
    // image_converters.py:224-284): an L raster whose rows carry the
    // QUADRATIC value seed + y*y (second difference 2, so symmetric 3x3
    // kernels are NOT identity), one filter per row from the wheel, then
    // png-encode -> re-decode. On this pattern every kernel's interior
    // output is closed-form: emboss = v(y)-v(y-1)+128 = 127+2y; contour =
    // clamp(-6+255) = 249; find_edges = clamp(-6) = 0; sharpen =
    // (16v-12)/16 = v-1 (truncating). Border ring is copied unfiltered.
    "ic_filter" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.multimodal.MediaCodecs.PixelBuf
          val w = 7 + (id % 6).toInt
          val h = 6 + (id % 5).toInt
          val seed = (id % 150).toInt
          val buf = new PixelBuf
          buf.init("L", w, h)
          for (y <- 0 until h; x <- 0 until w)
            buf.data(y * w + x) = (seed + y * y).toByte
          val name = Seq("emboss", "contour", "find_edges", "sharpen")((id % 4).toInt)
          val out = graft.multimodal.ImageConvert.convolve(buf, name)
          val meta = graft.multimodal.MediaCodecs.decodeImage(
            graft.multimodal.ImageConvert.encode(out, "png")).get
          (id, name, meta.width, meta.height, meta.pixelSum)
        }.toDF("doc_id", "filter", "width", "height", "pixel_sum")
        .select(col("doc_id"), col("filter"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Production JPEG ENCODE (the reference's `img.save(..., "JPEG",
    // quality=...)` direction, image_converters.py:118-137): band-constant
    // sources re-encode through convertImage and our own (already-oracled)
    // decoder reads the output back. Flat 8x8 blocks have DC-only DCTs and
    // at qualities 95 AND 93 the scaled DC steps are 2 for both luma
    // ((16*10+50)/100 = (16*14+50)/100 = 2) and chroma, dividing the even
    // 8*(v-128), so the lossy path is EXACTLY verifiable at both settings:
    // the closed-form pixel sum is the same as the decode oracle's, and the
    // quality knob itself is oracle-covered. Color rows carry neutral
    // chroma; half also exercise the grayscale preprocessing knob.
    "ic_jpeg" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 10 + (id % 23).toInt
          val h = 9 + (id % 20).toInt
          val seed = (id % 200).toInt
          val color = id % 3 == 0
          val src =
            if (color) graft.fixtures.JpegWriter.generateColor(w, h, seed)
            else graft.fixtures.JpegWriter.generate(w, h, seed)
          val out = graft.multimodal.ImageConvert.convertImage(
            src, "jpeg",
            graft.multimodal.ImageConvert.ImageOpts(
              grayscale = color && id % 2 == 0,
              quality = if (id % 2 == 0) 95 else 93))
          val meta = graft.multimodal.MediaCodecs.decodeImage(out).get
          (id, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ICO + EPS ENCODE (the last two raster formats in the reference's
    // output whitelist, image_converters.py:50-52): row-content BMP sources
    // convert to a PNG-in-ICO icon (even ids) or an EpsImagePlugin-shaped
    // hex-raster EPS (odd ids) and re-decode through decodePixels — both
    // lossless, so dims/mode/pixel-sum verify in closed form; half the rows
    // also push the grayscale knob through each target (r=g=b so L = v).
    "ic_ico" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 4 + (id % 6).toInt
          val seed = (id % 200).toInt
          val src = graft.fixtures.MediaFixtures.bmp(w, h, 24, seed)
          val dst = if (id % 2 == 0) "ico" else "eps"
          val gray = id % 4 == 1 || id % 4 == 2
          val out = graft.multimodal.ImageConvert.convertImage(
            src, dst, graft.multimodal.ImageConvert.ImageOpts(grayscale = gray))
          val (meta, _) = graft.multimodal.ImageConvert.decodePixels(out)
          (id, dst, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "dst_fmt", "format", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"), col("dst_fmt"), col("format"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // CLASSIC (DIB) ICO INPUT (Pillow's IcoImagePlugin open path — the
    // reference accepts .ico inputs, image_converters.py:42-46): XOR
    // bitmap + AND mask composite to RGBA (every third row transparent),
    // converted to PNG and re-decoded; dims/mode/pixel-sum verify in
    // closed form from the hand-packed fixture's row-banded content.
    "ic_ico_dib" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 4 + (id % 6).toInt
          val seed = (id % 200).toInt
          val bpp = if (id % 2 == 0) 24 else 8
          val src = graft.fixtures.MediaFixtures.icoDib(w, h, bpp, seed)
          val out = graft.multimodal.ImageConvert.convertImage(src, "png")
          val (meta, _) = graft.multimodal.ImageConvert.decodePixels(out)
          (id, bpp, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "bpp", "format", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"), col("bpp").cast("int").as("bpp"), col("format"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // WebP ENCODE (the reference's `.webp` output arm,
    // image_converters.py:50-52 and :122-126): cross-format sources (BMP,
    // PNG, GIF, TIFF) convert to lossless VP8L and re-decode through the
    // codec's own conforming reader — pixel-exact, so dims/mode/sums verify
    // closed-form. Half the rows push the grayscale knob; webp has no gray
    // layout, so they come back as gray RGB (the same 3x sum).
    "ic_webp" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 5 + (id % 9).toInt
          val h = 4 + (id % 6).toInt
          val seed = (id % 200).toInt
          import graft.fixtures.MediaFixtures
          val src = (id % 4) match {
            case 0 => MediaFixtures.bmp(w, h, 24, seed)
            case 1 => MediaFixtures.png(w, h, 2, seed)
            case 2 => MediaFixtures.gif(w, h, seed)
            case _ => MediaFixtures.tiff(w, h, rgb = true,
              bigEndian = id % 8 == 3, seed)
          }
          val out = graft.multimodal.ImageConvert.convertImage(
            src, "webp",
            graft.multimodal.ImageConvert.ImageOpts(grayscale = id % 2 == 1))
          val (meta, _) = graft.multimodal.ImageConvert.decodePixels(out)
          (id, meta.format, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "format", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"), col("format"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Lanczos-3 resize (the reference's LANCZOS resampler,
    // image_converters.py:82-84) with closed-form arms: a horizontal-only
    // resize of row-banded content keeps every row's value (weights
    // normalize to 1 within a constant row), and any resize of constant
    // content keeps the constant — so the windowed-sinc path verifies
    // exactly without pinning library float bytes. Even ids go through the
    // full convertImage preprocessing chain (resize knob + png encode).
    "ic_resize" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.multimodal.ImageConvert
          val w = 5 + (id % 9).toInt
          val h = 4 + (id % 6).toInt
          val seed = (id % 200).toInt
          val out =
            if (id % 2 == 0) {
              // banded rows, horizontal-only stretch via the full surface
              val bmp = graft.fixtures.MediaFixtures.bmp(w, h, 24, seed)
              ImageConvert.convertImage(bmp, "png",
                ImageConvert.ImageOpts(resize = Some((w + 3, h))))
            } else {
              // constant raster (one source row), both axes resized
              val bmp = graft.fixtures.MediaFixtures.bmp(w, 1, 24, seed)
              ImageConvert.encode(ImageConvert.resizeLanczos(
                ImageConvert.decodePixels(bmp)._2, w + 2, h + 5), "png")
            }
          val meta = graft.multimodal.MediaCodecs.decodeImage(out).get
          (id, meta.width, meta.height, meta.mode, meta.pixelSum)
        }.toDF("doc_id", "width", "height", "mode", "pixel_sum")
        .select(col("doc_id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("mode"),
          col("pixel_sum").cast("bigint").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // FLAC ENCODE (the reference's `.flac` output arm with its
    // compression_level kwarg, audio_converters.py:95-99): PCM containers
    // in, real compressed FLAC out (fixed predictors + Rice), re-decoded
    // by the codec's own frame walk — lossless, so every field verifies
    // closed-form; the decoder also checks each frame's CRC-16 and the
    // STREAMINFO MD5 (computed from the SOURCE samples), so a bit-layout
    // drift cannot pass. Tags ride a VORBIS_COMMENT block through the same
    // parseFlac reader mm_audio_tags uses.
    "ac_flac" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
          val n = 160 + (id % 5).toInt * 40
          val seed = (id % 100).toInt
          // every third row is STEREO: the fixture interleaves one ramp
          // across both channels (r = l + 1), so the encoder's stereo
          // decorrelation fires (near-silent side channel) and the
          // decoder's side-channel reconstruction is oracled, not just
          // unit-tested; sample_sum stays one closed form over the
          // interleaved index
          val ch = if (id % 3 == 0) 2 else 1
          val in =
            if (id % 2 == 0) graft.fixtures.MediaFixtures.wav(ch, rate, n, seed)
            else graft.fixtures.MediaFixtures.aiff(ch, rate, n, seed)
          val level = Seq(0, 1, 5, 8)((id % 4).toInt)
          val flac = graft.multimodal.FlacCodec.encode(
            graft.multimodal.AudioConvert.decodeSamples(in), level,
            Seq("TITLE" -> s"T$id"))
          val out = graft.multimodal.AudioConvert.decodeSamples(flac)
          val meta = graft.multimodal.MediaCodecs.parseFlac(flac)
          (id, level, out.channels, out.frameRate, out.frames,
            out.samples.foldLeft(0L)(_ + _), meta.tags("title"))
        }.toDF("doc_id", "level", "channels", "frame_rate", "frames_out",
          "sample_sum", "title")
        .select(col("doc_id"), col("level").cast("int").as("level"),
          col("channels").cast("int").as("channels"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("frames_out").cast("int").as("frames_out"),
          col("sample_sum").cast("bigint").as("sample_sum"), col("title"))
        .orderBy("doc_id")
    }),

    // MP3 SAMPLE DECODE (the reference loads mp3 payloads through pydub
    // for its whole convert surface, audio_converters.py:40-44,67-75):
    // full Layer III decode of the 13 committed conformance fixtures —
    // MPEG-1 + LSF, mono/stereo/MS/intensity, long/short/mixed/start/stop
    // blocks, escape tables + both count1 tables, plus a real third-party
    // LAME bitstream — then a lossless flac re-encode/re-decode proving
    // the decoded PCM rides the whole convert surface. The oracle carries
    // the int16-PCM digests pinned by the from-scratch Python reference
    // decoder (scripts/mp3ref, mp3/manifest.tsv); Mp3Codec mirrors it
    // bit-exactly over shared binary constants.
    // OGG VORBIS SAMPLE DECODE (the reference loads ogg payloads through
    // pydub, audio_converters.py:40-44): full Vorbis I decode of the 12
    // committed conformance fixtures — in-stream codebooks (sparse /
    // ordered / lookup 1+2), floor 1 incl. subclasses+masterbook and
    // multipliers 1-4, residue types 0/1/2 with a cascaded 2-pass arm,
    // square-polar coupling, multiplexed submaps, 256..8192 block
    // switching, a comment packet spanning ogg pages, and granule
    // end-trim — then a lossless wav re-encode/re-decode proving the PCM
    // rides the whole convert surface. The oracle carries the int16-PCM
    // digests pinned by the from-scratch Python reference decoder
    // (scripts/vorbisref, vorbis/manifest.tsv); VorbisCodec mirrors it
    // bit-exactly over the shared vorbistables.bin constants.
    "ac_ogg" -> ((s, dir) => {
      import s.implicits._
      val names = Array("v_mono_long", "v_mono_short", "v_blockswitch",
        "v_stereo_coupled", "v_stereo_res1", "v_res0", "v_cascade",
        "v_silent_ch", "v_submaps", "v_sparse_ordered", "v_longcomment",
        "v_big_blocks")
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val name = names((id % 12).toInt)
          val in = getClass.getResourceAsStream(s"/vorbis/$name.ogg")
          val bytes = in.readAllBytes(); in.close()
          val buf = graft.multimodal.VorbisCodec.decodeSamples(bytes)
          val raw = new Array[Byte](buf.samples.length * 2)
          var i = 0
          while (i < buf.samples.length) {
            raw(2 * i) = (buf.samples(i) & 0xff).toByte
            raw(2 * i + 1) = ((buf.samples(i) >> 8) & 0xff).toByte
            i += 1
          }
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(raw).map(b => f"$b%02x").mkString
          val back = graft.multimodal.AudioConvert.decodeSamples(
            graft.multimodal.AudioConvert.encode(buf, "wav"))
          (id, name, buf.frameRate, buf.channels, buf.frames,
            md5, buf.samples.foldLeft(0L)(_ + _),
            buf.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
            back.samples.sameElements(buf.samples))
        }.toDF("doc_id", "fixture", "frame_rate", "channels", "frames",
          "pcm_md5", "sample_sum", "max_abs", "wav_roundtrip_ok")
        .select(col("doc_id"), col("fixture"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("channels").cast("int").as("channels"),
          col("frames").cast("int").as("frames"), col("pcm_md5"),
          col("sample_sum").cast("bigint").as("sample_sum"),
          col("max_abs").cast("int").as("max_abs"), col("wav_roundtrip_ok"))
        .orderBy("doc_id")
    }),

    "ac_mp3" -> ((s, dir) => {
      import s.implicits._
      val names = Array("m1_mono_tones", "m1_stereo_lr", "m1_ms_stereo",
        "m1_scalefacs", "m2_lsf_mono", "m2_lsf_ms", "m1_short_blocks",
        "m1_mixed_blocks", "m1_start_stop", "m1_escape_count1b",
        "m1_intensity", "m1_ms_intensity", "lame_silence")
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val name = names((id % 13).toInt)
          val in = getClass.getResourceAsStream(s"/mp3/$name.mp3")
          val bytes = in.readAllBytes(); in.close()
          // allowRepaired: these fixtures are this repo's own encodes —
          // correct by construction for the repaired Huffman tables and
          // pinned by the reference decoder's digests (strict mode is the
          // user-facing AudioConvert default; see Mp3Codec.decodeChannels)
          val buf = graft.multimodal.Mp3Codec.decodeSamples(bytes, allowRepaired = true)
          val raw = new Array[Byte](buf.samples.length * 2)
          var i = 0
          while (i < buf.samples.length) {
            raw(2 * i) = (buf.samples(i) & 0xff).toByte
            raw(2 * i + 1) = ((buf.samples(i) >> 8) & 0xff).toByte
            i += 1
          }
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(raw).map(b => f"$b%02x").mkString
          val back = graft.multimodal.AudioConvert.decodeSamples(
            graft.multimodal.AudioConvert.encode(buf, "flac"))
          (id, name, buf.frameRate, buf.channels, buf.frames,
            md5, buf.samples.foldLeft(0L)(_ + _),
            buf.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
            back.samples.sameElements(buf.samples))
        }.toDF("doc_id", "fixture", "frame_rate", "channels", "frames",
          "pcm_md5", "sample_sum", "max_abs", "flac_roundtrip_ok")
        .select(col("doc_id"), col("fixture"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("channels").cast("int").as("channels"),
          col("frames").cast("int").as("frames"), col("pcm_md5"),
          col("sample_sum").cast("bigint").as("sample_sum"),
          col("max_abs").cast("int").as("max_abs"), col("flac_roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // OGG VORBIS SAMPLE ENCODE (the reference's ogg EXPORT target,
    // audio_converters.py:45-49 via pydub/ffmpeg): VorbisEncoder emits a
    // spec-valid Vorbis I stream (fitted floor 1 + type-2 lattice residue
    // over the shared vorbistables.bin constants) that VorbisCodec decodes
    // back with the EXACT input frame count (granule end-trim) at 25-29 dB
    // SNR. The oracle pins the decoded-PCM digests per wheel slot — the
    // same streams decode byte-identically under the independent Python
    // reference decoder (scripts/vorbisref/decoder.py; pinned in
    // VorbisEncoderSpec), so the constants are a two-decoder pin.
    "ac_ogg_encode" -> ((s, dir) => {
      import s.implicits._
      val slots = Array((1, 44100, 9000), (2, 48000, 5000), (1, 8000, 900),
        (2, 16000, 1024), (1, 22050, 3333), (2, 11025, 2048))
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val (ch, rate, n) = slots((id % 6).toInt)
          val src = graft.fixtures.MediaFixtures.tonePcm(n, ch, rate)
          val ogg = graft.multimodal.VorbisEncoder.encode(
            graft.multimodal.AudioConvert.AudioBuf(ch, rate, 16, src))
          val back = graft.multimodal.VorbisCodec.decodeSamples(ogg)
          val raw = new Array[Byte](back.samples.length * 2)
          var i = 0
          while (i < back.samples.length) {
            raw(2 * i) = (back.samples(i) & 0xff).toByte
            raw(2 * i + 1) = ((back.samples(i) >> 8) & 0xff).toByte
            i += 1
          }
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(raw).map(b => f"$b%02x").mkString
          var es = 0.0
          var en = 0.0
          i = 0
          while (i < src.length) {
            val sv = src(i) / 32768.0
            val dv = back.samples(i) / 32768.0
            es += sv * sv; en += (sv - dv) * (sv - dv)
            i += 1
          }
          (id, back.channels, back.frameRate, back.frames, ogg.length,
            md5, back.samples.foldLeft(0L)(_ + _),
            back.samples.foldLeft(0)((m, v) => math.max(m, math.abs(v))),
            math.floor(10 * math.log10(es / en)).toInt)
        }.toDF("doc_id", "channels", "frame_rate", "frames", "ogg_bytes",
          "pcm_md5", "sample_sum", "max_abs", "snr_db_floor")
        .select(col("doc_id"),
          col("channels").cast("int").as("channels"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("frames").cast("int").as("frames"),
          col("ogg_bytes").cast("int").as("ogg_bytes"), col("pcm_md5"),
          col("sample_sum").cast("bigint").as("sample_sum"),
          col("max_abs").cast("int").as("max_abs"),
          col("snr_db_floor").cast("int").as("snr_db_floor"))
        .orderBy("doc_id")
    }),

    // Audio CONVERT surface (the reference's pydub direction: load ->
    // effects -> export, audio_converters.py:50-127): every row CROSSES
    // containers (WAV fixture in -> AIFF out, AIFF fixture in -> WAV out),
    // applies one effect from the wheel (integer-exact speed / fadeOut /
    // slice), re-decodes its own output, and reports the pydub-shape
    // accounting. The oracle recomputes every field closed-form — the fade
    // arm's per-sample truncating-division series via generate_series
    // (DuckDB's integer // truncates toward zero, exactly like JVM /).
    "ac_convert" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val rate = Seq(8000, 16000, 22050, 44100)((id % 4).toInt)
          val n = 160 + (id % 5).toInt * 40
          val seed = (id % 100).toInt
          // input wheel spans all four PCM containers the surface decodes
          // (wav / aiff / au PCM16-BE / caf LE16) — identical sample series,
          // so the effects algebra below is container-invariant
          val in = (id % 4) match {
            case 0 => graft.fixtures.MediaFixtures.wav(1, rate, n, seed)
            case 1 => graft.fixtures.MediaFixtures.aiff(1, rate, n, seed)
            case 2 => graft.fixtures.MediaFixtures.au(3, 1, rate, n, seed)
            case _ => graft.fixtures.MediaFixtures.caf(1, rate, n, seed, little = true)
          }
          val fmt = if (id % 2 == 0) "aiff" else "wav"
          val r = (id % 3) match {
            case 0 => graft.multimodal.AudioConvert.convert(in, fmt, speed = 2)
            case 1 => graft.multimodal.AudioConvert.convert(in, fmt, fadeOutMs = 5)
            case _ => graft.multimodal.AudioConvert.convert(in, fmt,
              startMs = 2, endMs = 25)
          }
          val out = graft.multimodal.AudioConvert.decodeSamples(r.output)
          (id, r.formatTo, r.channels, r.frameRate, r.sampleWidth,
            out.frames, r.durationMs, r.originalSize, r.newSize,
            out.samples.foldLeft(0L)(_ + _))
        }.toDF("doc_id", "format_to", "channels", "frame_rate", "sample_width",
          "frames_out", "duration_ms", "orig_size", "new_size", "sample_sum")
        .select(col("doc_id"), col("format_to"),
          col("channels").cast("int").as("channels"),
          col("frame_rate").cast("int").as("frame_rate"),
          col("sample_width").cast("int").as("sample_width"),
          col("frames_out").cast("int").as("frames_out"),
          col("duration_ms").cast("bigint").as("duration_ms"),
          col("orig_size").cast("bigint").as("orig_size"),
          col("new_size").cast("bigint").as("new_size"),
          col("sample_sum").cast("bigint").as("sample_sum"))
        .orderBy("doc_id")
    }),

    // Sample-level audio merge (the reference's merge_audio fold,
    // audio_converters.py:183-192): 2-4 segments per row, containers
    // alternating per segment, concatenated and exported once; the oracle
    // recomputes frame counts, sizes, and the concatenated sample sum
    // closed-form from the fixtures' arithmetic series.
    "ac_merge" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.fixtures.MediaFixtures
          val k = 2 + (id % 3).toInt
          val rate = if (id % 2 == 0) 8000 else 16000
          val segs = (0 until k).map { j =>
            val n = 40 + ((id + j) % 5).toInt * 10
            val seed = ((id + 11 * j) % 100).toInt
            if (j % 2 == 0) MediaFixtures.wav(1, rate, n, seed)
            else MediaFixtures.aiff(1, rate, n, seed)
          }
          val fmt = if (id % 2 == 0) "aiff" else "wav"
          val r = graft.multimodal.AudioConvert.mergeAudio(segs, fmt)
          val dec = graft.multimodal.AudioConvert.decodeSamples(r.output)
          (id, r.formatTo, k, dec.frames, r.durationMs, r.newSize,
            dec.samples.foldLeft(0L)(_ + _))
        }.toDF("doc_id", "format_to", "n_segments", "frames_out", "duration_ms",
          "new_size", "sample_sum")
        .select(col("doc_id"), col("format_to"),
          col("n_segments").cast("int").as("n_segments"),
          col("frames_out").cast("int").as("frames_out"),
          col("duration_ms").cast("bigint").as("duration_ms"),
          col("new_size").cast("bigint").as("new_size"),
          col("sample_sum").cast("bigint").as("sample_sum"))
        .orderBy("doc_id")
    }),

    // Audio header sweep for the REST of the reference's pydub/mutagen
    // input whitelist (audio_converters.py:40-44): au/caf/tta/ape/wv/aac/
    // ac3/eac3/dts/mlp+truehd/wma/webm/mkv/opus/mp3 — the audio analog of
    // mm_headers. Channels/rate/duration all recomputed closed-form from
    // the fixture wheel (MLP/TrueHD report channels 0: layout not parsed).
    // The mp3 arm walks real MPEG-1/2 Layer III frame headers (duration =
    // frames x samples-per-frame / rate), a quarter of them ID3v2-prefixed
    // and half ID3v1-terminated.
    "ac_headers" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.fixtures.MediaFixtures
          import graft.multimodal.MediaCodecs
          val ch = 1 + (id % 2).toInt
          val bytes = (id % 15) match {
            case 0 => MediaFixtures.au(1, ch, 8000, 800 + (id % 5).toInt * 80, 0)
            case 1 => MediaFixtures.caf(ch, 44100, 441 * (1 + (id % 4).toInt),
              (id % 50).toInt, little = id % 2 == 0)
            case 2 => MediaFixtures.tta(ch,
              Seq(8000, 16000, 22050, 44100)((id % 4).toInt),
              1000 + (id % 7).toInt * 100)
            case 3 => MediaFixtures.ape(ch, 48000, 1024,
              1 + (id % 4).toInt, 100 + (id % 5).toInt * 20)
            case 4 => MediaFixtures.wavpack(mono = id % 2 == 0,
              Seq(1, 5, 9, 10)((id % 4).toInt), 4800 + (id % 5).toInt * 480)
            case 5 => MediaFixtures.adtsAac(Seq(3, 4, 8, 11)((id % 4).toInt),
              ch, 3 + (id % 4).toInt)
            case 6 => MediaFixtures.ac3((id % 3).toInt,
              2 * ((id % 5).toInt + 10), acmod = 2, lfeon = (id % 2).toInt,
              nFrames = 2 + (id % 3).toInt)
            case 7 => MediaFixtures.eac3((id % 3).toInt, (id % 4).toInt,
              128 + (id % 4).toInt * 64, acmod = 7, lfeon = (id % 2).toInt,
              nFrames = 2 + (id % 3).toInt)
            case 8 => MediaFixtures.dts(Seq(13, 8, 3, 12)((id % 4).toInt),
              Seq(0, 2, 6, 9)((id % 4).toInt), nblks = 7, frameBytes = 512,
              nFrames = 2 + (id % 3).toInt)
            case 9 => MediaFixtures.truehd(Seq(0, 1, 8, 9)((id % 4).toInt),
              120 + (id % 4).toInt * 24, mlp = id % 2 == 0)
            case 10 => MediaFixtures.asfWma(ch, 44100,
              1000 + (id % 10) * 100, (id % 2) * 3000)
            case 11 => MediaFixtures.webm(ch, 48000, 500 + (id % 8).toInt * 125)
            case 12 => MediaFixtures.webm(ch, 48000, 500 + (id % 8).toInt * 125,
              docType = "matroska", video = Some((640, 360)))
            case 13 => MediaFixtures.oggOpus(ch, preSkip = 312,
              granule = 312L + 4800 * (1 + (id % 4)))
            case _ => MediaFixtures.mp3Frames(mpeg2 = id % 2 == 1,
              bitrateIdx = Seq(5, 9, 14, 1)((id % 4).toInt),
              freqIdx = (id % 3).toInt, mono = id % 2 == 0,
              nFrames = 2 + (id % 3).toInt,
              id3 = if (id % 4 == 0) Seq("TIT2" -> s"T$id") else Nil,
              id3v1 = id % 8 < 4)
          }
          val m = MediaCodecs.audioHeader(bytes).get
          (id, m.mime, m.channels, m.rate, m.durationMs)
        }.toDF("doc_id", "media_type", "channels", "rate", "duration_ms")
        .select(col("doc_id"), col("media_type"),
          col("channels").cast("int").as("channels"),
          col("rate").cast("int").as("rate"),
          col("duration_ms").cast("bigint").as("duration_ms"))
        .orderBy("doc_id")
    }),

    // End-to-end curation composite: extract (all corpus formats) ->
    // respace -> inject exact duplicates -> keep-first survivors -> token
    // rollup per format. ONE query exercising the extraction tier and the
    // dedup tier AS A PIPELINE — the training-data flow this engine exists
    // for; the oracle recomputes everything from documents.text.
    "pipeline_curate" -> ((s, dir) => {
      val ex = extractDF(s, dir)
        .filter(col("success"))
        .select(col("doc_id"), col("format_from"),
          regexp_replace(col("text"), "\n", " ").as("clean"))
      val withDups = ex.select(col("doc_id").as("id"), col("format_from"), col("clean"))
        .unionByName(ex.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("id"), col("format_from"), col("clean")))
      Dedup.exactDupSurvivors(withDups, "id", "clean")
        .join(withDups, "id")
        .groupBy(col("format_from"))
        .agg(count(lit(1)).cast("bigint").as("docs"),
          sum(TextAnalysis.tokenCount(col("clean"))).cast("bigint").as("tokens"))
        .orderBy("format_from")
    }),

    // ---- resume manifest (S16 sink + J-a anti-join), oracled ---------------
    // Runs the resumable pipeline TWICE into a fresh dir; the second run
    // must be a no-op (asserted in-query), and the manifest's per-bucket doc
    // counts must equal DuckDB's recomputation of the MD5 bucketing.
    "pipeline_resume" -> ((s, dir) => {
      val out = freshScratchDir("graft_q_resume", dir)
      val pages = Corpus.materialize(s, dir)
      graft.pipeline.ResumableRunner.run(s, pages, out, "q1", numBuckets = 64)
      val second = graft.pipeline.ResumableRunner.run(s, pages, out, "q2", numBuckets = 64)
      require(second.bucketsRun == 0, s"resume must be a no-op, got $second")
      s.read.parquet(s"$out/manifest")
        .select(col("partition_id").cast("int").as("partition_id"),
          col("docs").cast("bigint").as("docs"))
        .orderBy("partition_id")
    }),

    // ---- streaming surface (§2.8), oracled ---------------------------------
    // AvailableNow drain of the corpus directory through the streaming
    // kernel; per-format rollup must equal the batch extract_metrics oracle.
    "stream_metrics" -> ((s, dir) => {
      val inDir = Corpus.materializedDir(s, dir)
      val tmp = freshScratchDir("graft_q_stream", dir)
      val q = graft.streaming.StreamingExtraction.run(s, inDir, tmp, s"$tmp/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$tmp/results")
        .groupBy(col("format_from"))
        .agg(count(lit(1)).cast("bigint").as("docs"),
          sum(col("new_size")).cast("bigint").as("bytes_out"),
          sum(when(!col("success"), 1L).otherwise(0L)).cast("bigint").as("failures"))
        .orderBy("format_from")
    }),

    // Stateful streaming dedup: two parquet files drained as TWO
    // micro-batches (maxFilesPerTrigger=1 + mtime ordering), so the
    // seen-set genuinely crosses the state store between batches. Batch 0
    // is the corpus; batch 1 carries re-arrivals of every fifth document
    // (same digest, higher id — the state must swallow them) plus new
    // revisions of every seventh (new digest — must survive). The oracle
    // is GROUP BY digest -> MIN(doc_id) over the union, equal to
    // keep-first here because re-arrivals always carry higher ids than
    // their batch-0 originals. A leaked duplicate or a dropped revision
    // breaks the hash.
    "stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val docs = base.select(col("doc_id"), md5(col("text")).as("digest"))
      val tmp = freshScratchDir("graft_q_streamdedup", dir)
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def writeBatch(df: org.apache.spark.sql.DataFrame, name: String,
                     mtime: Long): Unit = {
        val stage = s"$tmp/stage_$name"
        df.coalesce(1).write.options(NioLocalFileSystem.writeOptions).parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(in, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        // micro-batch ORDER rides on mtime (file source lists oldest
        // first): a silent setLastModified failure would leave the two
        // batches tie-broken by listing order and flip survivors
        require(dest.setLastModified(mtime), s"cannot set mtime on $dest")
      }
      val now = System.currentTimeMillis()
      writeBatch(docs, "batch0", now - 60000)
      writeBatch(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("digest"))
          .unionByName(base
            .filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000L).as("doc_id"),
              md5(concat(col("text"), lit("v2"))).as("digest"))),
        "batch1", now)
      val stream = s.readStream
        .schema(org.apache.spark.sql.Encoders.product[
          graft.streaming.StreamingDedup.KeyedDoc].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.getPath)
        .as[graft.streaming.StreamingDedup.KeyedDoc]
      val q = graft.streaming.StreamingDedup.firstSeen(stream).writeStream
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out")
        .select(col("digest"), col("doc_id").cast("bigint").as("doc_id"))
        .orderBy("digest")
    }),

    // flatMapGroupsWithState sessionization, batch mode: one invocation per
    // user with all events + empty state — must equal the window/lag SQL
    "stream_sessions" -> ((s, dir) => {
      import s.implicits._
      val events = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("ts"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessionStats(events).toDF()
        .select(col("user_id"), col("sessions").cast("bigint").as("sessions"),
          col("events").cast("bigint").as("events"))
        .orderBy("user_id")
    }),

    // ---- relational coverage (§2.3 joins / §2.4 aggs / §2.5 windows) -------
    // Money sums as integer cents (round(x*100) -> BIGINT): bit-exact and
    // hash-representation-proof vs the oracle — DECIMAL physical encodings
    // differ between engines even when values agree.
    "rel_agg_pricing" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity") * 100).cast("bigint")).cast("bigint").as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).cast("bigint").as("sum_base_price_c"),
          count(lit(1)).cast("bigint").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    "rel_join_topcust" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      // no broadcast() hint: the dimension is under the auto-broadcast
      // threshold here and a forced hint would pin a broadcast even at
      // 100x customer; size-based planning (+ AQE) picks the join side
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint").as("total_spent_c"))
        .orderBy("c_custkey")
    }),
    "rel_window_latest_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("date").as("latest_date"))
        .orderBy("o_custkey")
    }),
    "rel_events_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("bigint").as("sessions"),
          count(lit(1)).cast("bigint").as("events"))
        .orderBy("user_id")
    }),

    "rel_range_join" -> ((s, dir) => {
      val items = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 122 DAYS")).as("o_window_end"))
      graft.operators.RangeJoin.pointInInterval(
          items, "l_orderkey", "l_shipdate", orders, "o_orderkey", "o_orderdate", "o_window_end",
          bucketSeconds = 122L * 86400)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "rel_asof_join" -> ((s, dir) => {
      val events = s.read.parquet(s"$dir/events.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet").select("o_custkey", "o_orderdate")
      graft.operators.AsOfJoin.asof(events, orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate", valueCols = Seq("o_orderdate"))
        .select(col("event_id"), col("user_id"), col("o_orderdate").cast("date").as("asof_date"))
        .orderBy("event_id")
    }),
    "rel_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)").as("revenue"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "rel_topk_parts" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)").as("revenue"))
        .orderBy(col("revenue").desc, col("l_partkey").asc)
        .limit(10)),
    "rel_setops_silent_cust" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey"))
        .except(s.read.parquet(s"$dir/events.parquet").select(col("user_id")))
        .orderBy("o_custkey")),

    // ---- scale layer (S13 size buckets / skew salting) ---------------------
    "scale_size_buckets" -> ((s, dir) => docs(s, dir)
      .select(least(col("n_chars").divide(lit(64)).cast("long"), lit(7L)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("bigint").as("docs"))
      .orderBy("bucket")),
    "scale_salt" -> ((s, dir) => docs(s, dir)
      .select(pmod(col("doc_id") * 2654435761L, lit(16L)).cast("int").as("salt"))
      .groupBy("salt").agg(count(lit(1)).cast("bigint").as("docs"))
      .orderBy("salt")),

    // ---- web-curation tier (C4 / Gopher / FineWeb-style passes) ------------
    "cur_c4_filter" -> ((s, dir) =>
      WebCuration.c4Filter(WebCuration.c4Decorate(
        WebCuration.lineCorpus(docs(s, dir)))).orderBy("doc_id")),
    "cur_gopher_quality" -> ((s, dir) =>
      WebCuration.gopherQuality(gopherDocs(s, dir)).orderBy("doc_id")),
    "cur_repetition" -> ((s, dir) =>
      WebCuration.repetitionStats(docs(s, dir)).orderBy("doc_id")),
    "cur_line_dedup" -> ((s, dir) =>
      WebCuration.corpusLineDedup(WebCuration.lineCorpus(docs(s, dir))).orderBy("doc_id")),
    "cur_pii_scrub" -> ((s, dir) =>
      WebCuration.piiScrub(piiDocs(s, dir)).orderBy("doc_id")),
    "cur_hash_sample" -> ((s, dir) =>
      WebCuration.hashSampleByLang(docs(s, dir),
        when(col("lang") === "en", "80").when(col("lang") === "es", "60")
          .otherwise("40")).orderBy("lang")),
    "cur_token_mix" -> ((s, dir) =>
      WebCuration.tokenBudgetMix(docs(s, dir), 2000L).orderBy("lang", "shard", "doc_id")),
    "cur_url_dedup" -> ((s, dir) =>
      WebCuration.urlDedupLatest(recrawlUrls(s, dir)).orderBy("canon_url")),
    "cur_funnel" -> ((s, dir) =>
      WebCuration.funnel(docs(s, dir)).orderBy("doc_id")),

    // ---- WARC source (write → parse round trip over grouped pages) ---------
    "src_warc_roundtrip" -> ((s, dir) =>
      WarcSource.roundTrip(docs(s, dir)).orderBy("doc_id")),

    // The same round trip through the DataSource V2 read surface: segments
    // written to disk, read back via spark.read.format("warc") — shares
    // src_warc_roundtrip's oracle shape (the connector must surface exactly
    // what the parser does).
    "src_warc_dsv2" -> ((s, dir) => {
      val seg = WarcSource.segmentsToDisk(docs(s, dir))
      s.read.format("warc").load(seg)
        .select(
          regexp_extract(col("url"), "doc([0-9]+)$", 1).cast("bigint").as("doc_id"),
          col("url"), col("status"), col("content_type").as("mime"),
          length(col("payload")).cast("bigint").as("payload_octets"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // ---- WARC ingest end-to-end: segments → parse → dispatch → extract -----
    // The Common-Crawl ingest shape over the REAL format-wheel corpus; the
    // WARC leg is byte-transparent so the per-format rollup must equal
    // extract_metrics (the two queries share the oracle SQL).
    "src_warc_extract" -> ((s, dir) =>
      WarcSource.extractionRollup(graft.fixtures.Corpus.materialize(s, dir)))
  )

  def oracleSql: Map[String, String] = Map(
    "extract_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "extract_formats" ->
      ("SELECT doc_id, " + formatFromSql + " AS format_from " +
        "FROM documents ORDER BY doc_id"),
    "extract_metrics" ->
      ("SELECT " + formatFromSql + " AS format_from, " +
        "CAST(count(*) AS BIGINT) AS docs, CAST(sum(n_chars) AS BIGINT) AS bytes_out, " +
        "CAST(0 AS BIGINT) AS failures FROM documents GROUP BY 1 ORDER BY format_from"),
    "extract_rtf" ->
      ("SELECT doc_id, 'rtf' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_odf" ->
      ("SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'odt' WHEN 1 THEN 'odp' " +
        "ELSE 'ods' END AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_pptx" ->
      ("SELECT doc_id, 'pptx' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_xlsx" ->
      ("SELECT doc_id, 'xlsx' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_doc" ->
      ("SELECT doc_id, 'doc' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_xls" ->
      ("SELECT doc_id, 'xls' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_ppt" ->
      ("SELECT doc_id, 'ppt' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_pub" ->
      ("SELECT doc_id, 'pub' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_odf_templates" ->
      ("SELECT doc_id, CASE doc_id % 4 WHEN 0 THEN 'ott' WHEN 1 THEN 'otp' " +
        "WHEN 2 THEN 'ots' ELSE 'sxw' END AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_fodf" ->
      ("SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'fodt' WHEN 1 THEN 'fodp' " +
        "ELSE 'fods' END AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_epub" ->
      ("SELECT doc_id, 'epub' AS format_from, true AS success, text " +
        "FROM documents ORDER BY doc_id"),
    "extract_dispatch" ->
      ("SELECT doc_id, CASE doc_id % 9 WHEN 0 THEN 'doc' WHEN 1 THEN 'xls' " +
        "WHEN 2 THEN 'ppt' WHEN 3 THEN 'cfb' WHEN 4 THEN 'fodt' WHEN 5 THEN 'pub' " +
        "WHEN 8 THEN 'gz' ELSE 'txt' END AS format_from, " +
        "(doc_id % 9 IN (4, 6, 7)) AS success, " +
        "CASE WHEN doc_id % 9 IN (4, 6, 7) THEN text ELSE '' END AS text, " +
        "(doc_id % 9 NOT IN (4, 6, 7)) AS has_error " +
        "FROM documents ORDER BY doc_id"),
    "fn_mime" ->
      ("SELECT doc_id, CASE doc_id % 8 " +
        "WHEN 0 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document' " +
        "WHEN 1 THEN 'application/vnd.openxmlformats-officedocument.presentationml.presentation' " +
        "WHEN 2 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet' " +
        "WHEN 3 THEN (CASE (doc_id // 8) % 3 WHEN 0 THEN 'application/vnd.oasis.opendocument.text' " +
        "WHEN 1 THEN 'application/vnd.oasis.opendocument.presentation' " +
        "ELSE 'application/vnd.oasis.opendocument.spreadsheet' END) " +
        "WHEN 4 THEN 'application/epub+zip' " +
        "WHEN 5 THEN (CASE (doc_id // 8) % 3 WHEN 0 THEN 'application/msword' " +
        "WHEN 1 THEN 'application/vnd.ms-excel' ELSE 'application/vnd.ms-powerpoint' END) " +
        "WHEN 6 THEN 'application/pdf' " +
        "ELSE 'application/octet-stream' END AS mime " +
        "FROM documents ORDER BY doc_id"),
    "serialize_roundtrip" ->
      ("SELECT doc_id, CASE doc_id % 16 " +
        "WHEN 0 THEN 'pdf' WHEN 1 THEN 'txt' WHEN 2 THEN 'rtf' " +
        "WHEN 3 THEN 'doc' WHEN 4 THEN 'docx' WHEN 5 THEN 'odt' " +
        "WHEN 6 THEN 'html' WHEN 7 THEN 'xml' WHEN 8 THEN 'xls' " +
        "WHEN 9 THEN 'xlsx' WHEN 10 THEN 'ods' WHEN 11 THEN 'csv' " +
        "WHEN 12 THEN 'ppt' WHEN 13 THEN 'pptx' WHEN 14 THEN 'odp' " +
        "ELSE 'epub' END AS fmt, " +
        "TRUE AS identical, text FROM documents ORDER BY doc_id"),
    "mm_decode_bmp" ->
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, CASE WHEN doc_id % 8 = 7 THEN 'image/x-portable-graymap' " +
        "WHEN doc_id % 4 = 3 THEN 'image/x-portable-pixmap' " +
        "ELSE 'image/bmp' END AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE doc_id % 4 WHEN 0 THEN 'P' WHEN 1 THEN 'RGB' WHEN 2 THEN 'RGBA' " +
        "ELSE (CASE WHEN doc_id % 8 = 7 THEN 'L' ELSE 'RGB' END) END AS mode, " +
        "CAST((CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4 " +
        "ELSE (CASE WHEN doc_id % 8 = 7 THEN 1 ELSE 3 END) END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_decode_png" ->
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/png' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE doc_id % 5 WHEN 0 THEN 'L' WHEN 1 THEN 'RGB' WHEN 2 THEN 'P' " +
        "WHEN 3 THEN 'RGBA' ELSE 'LA' END AS mode, " +
        "CAST((CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1 " +
        "WHEN 3 THEN 4 ELSE 2 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_decode_gif" ->
      // sub = sub-rect arm: screen (w+7)x(h+5), frame at (3,2), bg 9 —
      // the canvas area outside the frame sums as bg * (screen - frame)
      ("WITH p AS (SELECT doc_id, 30 + doc_id % 25 AS w, 20 + doc_id % 17 AS h, " +
        "doc_id % 200 AS seed, CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS sub " +
        "FROM documents) " +
        "SELECT doc_id, 'image/gif' AS media_type, " +
        "CAST(w + sub * 7 AS INT) AS width, CAST(h + sub * 5 AS INT) AS height, " +
        "'P' AS mode, " +
        "CAST(w * (h * seed + h * (h - 1) // 2) " +
        "+ sub * 9 * ((w + 7) * (h + 5) - w * h) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_decode_tiff" ->
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/tiff' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 2 = 1 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_decode_webp" ->
      // rows 0-11: constants computed from the fixture SOURCE pixel
      // generators by scripts/gen_webp_fixtures.py (r+g+b per pixel, +a
      // when the stream's alpha-hint bit makes the decode RGBA);
      // rows 12-18: LOSSY VP8 — constants are the system libwebp's own
      // WebPDecodeRGBA r+g+b sums (scripts/gen_vp8_fixtures.py manifest)
      ("WITH f(k, width, height, mode, pixel_sum, n_frames) AS (VALUES " +
        "(0, 33, 29, 'RGB', 366348, 1), (1, 40, 32, 'RGB', 398080, 1), " +
        "(2, 41, 17, 'RGB', 323970, 1), (3, 37, 23, 'RGB', 250811, 1), " +
        "(4, 29, 31, 'RGB', 304437, 1), (5, 26, 22, 'RGB', 218718, 1), " +
        "(6, 48, 30, 'RGB', 554892, 1), (7, 32, 32, 'RGBA', 527420, 1), " +
        "(8, 160, 120, 'RGB', 7171040, 1), (9, 144, 112, 'RGB', 6011379, 1), " +
        "(10, 64, 48, 'RGB', 1026464, 1), (11, 60, 51, 'RGB', 1151181, 1), " +
        "(12, 64, 48, 'RGB', 1168891, 1), (13, 80, 64, 'RGB', 1920413, 1), " +
        "(14, 128, 96, 'RGB', 3962990, 1), (15, 64, 64, 'RGB', 1995593, 1), " +
        "(16, 61, 37, 'RGB', 794909, 1), (17, 9, 7, 'RGB', 24276, 1), " +
        "(18, 96, 80, 'RGB', 3746542, 1), " +
        // rows 19-25: VP8X+ALPH stills (pixel_sum includes the alpha
        // plane); 22-25 are the hand-built raw-ALPH filter-0..3 files
        "(19, 48, 32, 'RGBA', 617750, 1), (20, 48, 32, 'RGBA', 853496, 1), " +
        "(21, 33, 29, 'RGBA', 579719, 1), (22, 64, 48, 'RGBA', 1576495, 1), " +
        "(23, 64, 48, 'RGBA', 1576495, 1), (24, 64, 48, 'RGBA', 1576495, 1), " +
        "(25, 64, 48, 'RGBA', 1576495, 1), " +
        // rows 26-31: ANIMATED (VP8X+ANMF) — pixel_sum is the composited
        // timeline digest over every frame, n_frames the ANMF count
        // (scripts/gen_anim_webp_fixtures.py manifest; frame pixels are
        // libwebp's own decode, blended frames carry binary alpha so the
        // constants are blend-rounding-independent)
        "(26, 40, 28, 'RGBA', 1419908, 2), (27, 48, 36, 'RGBA', 3325664, 3), " +
        "(28, 44, 32, 'RGBA', 2465995, 3), (29, 64, 48, 'RGBA', 2447711, 2), " +
        "(30, 64, 48, 'RGBA', 5869032, 3), (31, 48, 32, 'RGBA', 1973319, 2)) " +
        "SELECT d.doc_id, 'image/webp' AS media_type, " +
        "CAST(f.width AS INT) AS width, CAST(f.height AS INT) AS height, " +
        "f.mode, CAST(f.pixel_sum AS BIGINT) AS pixel_sum, " +
        "CAST(f.n_frames AS INT) AS n_frames " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 32 ORDER BY d.doc_id"),
    "mm_decode_jpeg" ->
      // row y holds (seed + y//8) % 256, no wrap (seed<200, <=4 bands);
      // sum_y (y//8) for h = 8q+r is 4q(q-1) + rq
      ("WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'image/jpeg' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + 4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_convert" ->
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, " +
        "doc_id % 200 AS seed, doc_id % 6 AS s, (doc_id // 6) % 5 AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE s WHEN 0 THEN 'bmp24' WHEN 1 THEN 'bmp8' WHEN 2 THEN 'png' " +
        "WHEN 3 THEN 'gif' WHEN 4 THEN 'ppm' ELSE 'tiff' END AS src_fmt, " +
        "CASE d WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'ppm' " +
        "WHEN 3 THEN 'tiff' ELSE 'gif' END AS dst_fmt, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN s IN (1, 3) THEN (CASE WHEN d IN (2, 3) THEN 'RGB' ELSE 'P' END) " +
        "ELSE (CASE WHEN d = 4 THEN 'P' ELSE 'RGB' END) END AS mode, " +
        "CAST(CASE WHEN s IN (1, 3) THEN " +
        "(CASE WHEN d IN (2, 3) THEN 3 ELSE 1 END) * w * (h * seed + h * (h - 1) // 2) " +
        "ELSE (CASE WHEN d = 4 THEN w * h * (h - 1) // 2 " +
        "ELSE 3 * w * (h * seed + h * (h - 1) // 2) END) END AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_audio_tags" ->
      ("WITH p AS (SELECT doc_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 96000 END AS rate, " +
        "1 + doc_id % 100 AS q FROM documents) " +
        "SELECT doc_id, 'T' || doc_id AS title, 'A' || doc_id AS artist, " +
        "'L' || doc_id AS album, " +
        "CAST(CASE WHEN doc_id % 4 = 1 THEN 44100 ELSE rate END AS VARCHAR) AS sample_rate_str, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN (q * rate // 4) * 1000 // rate " +
        "ELSE 0 END AS BIGINT) AS duration_ms " +
        "FROM p ORDER BY doc_id"),
    "mm_video_meta" ->
      ("WITH p AS (SELECT doc_id, 160 + (doc_id % 8) * 16 AS w, " +
        "90 + (doc_id % 6) * 18 AS h, " +
        "CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 600 END AS ts, " +
        "(1 + doc_id % 240) * 300 AS units FROM documents) " +
        "SELECT doc_id, 'video/mp4' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(units * 1000 // ts AS BIGINT) AS duration_ms, " +
        "CAST(1 AS INT) AS tracks FROM p ORDER BY doc_id"),
    "mm_video_frames" ->
      // frame f's row y holds (seed + f + y//8) % 256, no wrap (seed < 150,
      // f < 6, <= 3 bands); per-frame sum = w*(h*(seed+f) + 4q(q-1) + rq)
      // with q = h//8, r = h%8 — summed over f in closed form
      ("WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 150 AS seed, 2 + doc_id % 4 AS f, 10 + doc_id % 30 AS msf " +
        "FROM documents) " +
        "SELECT doc_id, 'video/x-msvideo' AS media_type, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(f AS INT) AS frames, " +
        "CAST(f * msf AS BIGINT) AS duration_ms, " +
        "CAST(w * h * (f * seed + f * (f - 1) // 2) " +
        "+ f * w * (4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum FROM p ORDER BY doc_id"),
    "mm_features" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 8 <= 2 THEN 'image/webp' " +
        "WHEN doc_id % 8 = 3 THEN 'image/x-icon' " +
        "WHEN doc_id % 8 = 4 THEN 'audio/wav' " +
        "WHEN doc_id % 8 = 5 THEN 'audio/aiff' " +
        "WHEN doc_id % 8 = 6 THEN " +
        "(CASE (doc_id // 8) % 2 WHEN 0 THEN 'image/heif' ELSE 'image/avif' END) " +
        "ELSE 'application/octet-stream' END AS media_type, " +
        // arm 0 dims are the committed lossy-fixture constants (manifest.tsv:
        // grad 64x48, photo_q50 80x64, photo_q90 128x96, mixed 64x64,
        // odd 61x37, tiny 9x7, noise 96x80); arm-2 stills are the alpha
        // fixtures (ramp/steps 48x32, noise 33x29)
        "CAST(CASE doc_id % 8 WHEN 0 THEN " +
        "(CASE (doc_id // 8) % 7 WHEN 0 THEN 64 WHEN 1 THEN 80 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 64 WHEN 4 THEN 61 WHEN 5 THEN 9 ELSE 96 END) " +
        "WHEN 1 THEN 1 + doc_id % 200 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN " +
        "(CASE WHEN (doc_id // 16) % 3 = 2 THEN 33 ELSE 48 END) " +
        "ELSE 200 + doc_id % 300 END) " +
        "WHEN 3 THEN 32 + doc_id % 64 WHEN 6 THEN 32 + doc_id % 100 " +
        "ELSE 0 END AS INT) AS width, " +
        "CAST(CASE doc_id % 8 WHEN 0 THEN " +
        "(CASE (doc_id // 8) % 7 WHEN 0 THEN 48 WHEN 1 THEN 64 WHEN 2 THEN 96 " +
        "WHEN 3 THEN 64 WHEN 4 THEN 37 WHEN 5 THEN 7 ELSE 80 END) " +
        "WHEN 1 THEN 1 + doc_id % 100 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN " +
        "(CASE WHEN (doc_id // 16) % 3 = 2 THEN 29 ELSE 32 END) " +
        "ELSE 150 + doc_id % 100 END) " +
        "WHEN 3 THEN 32 + doc_id % 32 WHEN 6 THEN 24 + doc_id % 50 " +
        "ELSE 0 END AS INT) AS height, " +
        "CAST(CASE doc_id % 8 WHEN 2 THEN " +
        "(CASE WHEN doc_id % 16 = 2 THEN 1 ELSE 2 + doc_id % 4 END) " +
        "WHEN 3 THEN 1 + doc_id % 3 WHEN 4 THEN 100 + doc_id % 50 " +
        "WHEN 5 THEN 100 + doc_id % 50 " +
        "WHEN 6 THEN (CASE WHEN doc_id % 16 = 6 THEN 2 ELSE 1 END) " +
        "WHEN 7 THEN 0 ELSE 1 END AS INT) AS n_frames, " +
        "CASE WHEN doc_id % 8 = 7 THEN 'stub-decode' ELSE '' END AS error " +
        "FROM documents ORDER BY doc_id"),
    "mm_audio_wav" ->
      ("WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS channels, " +
        "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 " +
        "ELSE 44100 END AS rate, " +
        "CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits, " +
        "CASE WHEN doc_id % 5 = 0 THEN 100 ELSE 500 + (doc_id % 7) * 37 END AS frames, " +
        "CASE WHEN doc_id % 5 = 0 THEN doc_id % 50 ELSE doc_id % 100 END AS seed " +
        "FROM documents) " +
        "SELECT doc_id, CAST(channels AS INT) AS channels, CAST(rate AS INT) AS frame_rate, " +
        "CAST(bits AS INT) AS bits_per_sample, " +
        // duration = dataBytes*1000/byteRate = frames*1000/rate at any depth
        "CAST(frames * 1000 // rate AS BIGINT) AS duration_ms, " +
        "CAST((frames * 1000 // rate) // 2 AS BIGINT) AS duration_x2_ms, " +
        // 16-bit samples are ((seed+f)%4096)-2048 with n<4096 (no wrap);
        // 8-bit are ((seed+f)%256)-128 with seed+n<256 (no wrap) -> both
        // arithmetic series with the depth's bias
        "CAST(frames * channels * (seed - CASE WHEN bits = 8 THEN 128 ELSE 2048 END) " +
        "+ frames * channels * (frames * channels - 1) // 2 AS BIGINT) AS sample_sum " +
        "FROM p ORDER BY doc_id"),
    "mm_headers" ->
      ("SELECT doc_id, " +
        "CASE doc_id % 10 WHEN 0 THEN 'image/vnd.adobe.photoshop' " +
        "WHEN 1 THEN 'image/icns' WHEN 2 THEN 'image/x-pcx' " +
        "WHEN 3 THEN 'image/jp2' WHEN 4 THEN 'image/x-tga' " +
        "WHEN 5 THEN 'application/postscript' WHEN 6 THEN 'image/x-xbitmap' " +
        "WHEN 7 THEN 'image/x-xpixmap' ELSE 'image/svg+xml' END AS media_type, " +
        "CAST(CASE WHEN doc_id % 10 = 1 THEN " +
        "(CASE doc_id % 6 WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 256 WHEN 4 THEN 512 ELSE 1024 END) " +
        "ELSE 20 + doc_id % 80 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 10 = 1 THEN " +
        "(CASE doc_id % 6 WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 128 " +
        "WHEN 3 THEN 256 WHEN 4 THEN 512 ELSE 1024 END) " +
        "ELSE 12 + doc_id % 60 END AS INT) AS height, " +
        "'' AS error FROM documents ORDER BY doc_id"),
    "ic_pdf" ->
      // page j of row doc_id: w = 4+(doc_id+j)%5, h = 3+(doc_id+j)%4,
      // seed = (doc_id+7j)%200; BMP rows are (seed+y), RGB triples the
      // row sums (no wrap: seed+h < 256)
      ("WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents) " +
        "SELECT doc_id, CAST(n AS INT) AS num_pages, " +
        "CAST(4 + doc_id % 5 AS INT) AS w0, CAST(3 + doc_id % 4 AS INT) AS h0, " +
        "CAST((SELECT SUM(3 * (4 + (doc_id + t.j) % 5) * " +
        "((3 + (doc_id + t.j) % 4) * ((doc_id + 7 * t.j) % 200) " +
        "+ (3 + (doc_id + t.j) % 4) * (2 + (doc_id + t.j) % 4) // 2)) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < n) AS BIGINT) AS total_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_filter" ->
      // raster value v(y) = seed + y*y (no wrap: seed < 150, y <= 9);
      // border rows/cols copied; interior per-row outputs as derived in the
      // query comment (emboss 127+2y, contour 249, find_edges 0, sharpen
      // v(y)-1 via truncating (16v-12)/16)
      ("WITH p AS (SELECT doc_id, 7 + doc_id % 6 AS w, 6 + doc_id % 5 AS h, " +
        "doc_id % 150 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'emboss' WHEN 1 THEN 'contour' " +
        "WHEN 2 THEN 'find_edges' ELSE 'sharpen' END AS filter, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w * (seed + seed + (h - 1) * (h - 1)) " + // border rows y=0, h-1
        "+ (SELECT SUM(2 * (seed + t.y * t.y) + (w - 2) * " + // border cols + interior
        "CASE doc_id % 4 WHEN 0 THEN 127 + 2 * t.y WHEN 1 THEN 249 " +
        "WHEN 2 THEN 0 ELSE seed + t.y * t.y - 1 END) " +
        "FROM generate_series(1, 8) AS t(y) WHERE t.y < h - 1) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_jpeg" ->
      // band-constant row y holds (seed + y//8) % 256 (no wrap: seed < 200,
      // <= 4 bands); exact round-trip at q95 (even ids) and q93 (odd ids —
      // both scale the DC steps to 2), so the sum is the decode
      // oracle's closed form; color ids (doc_id%3=0) stay RGB (x3) unless
      // the grayscale knob fires (doc_id%6=0 -> L, r=g=b so L = v exactly)
      ("WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 20 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 6 = 3 THEN 'RGB' ELSE 'L' END AS mode, " +
        "CAST((CASE WHEN doc_id % 6 = 3 THEN 3 ELSE 1 END) " +
        "* w * (h * seed + 4 * (h // 8) * ((h // 8) - 1) + (h % 8) * (h // 8)) " +
        "AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_ico" ->
      // BMP row y carries value seed+y in every channel (no wrap: seed<200,
      // h<=9); both targets are lossless, so sum = factor * w * (h*seed +
      // h(h-1)/2) with factor 3 for RGB rows, 1 for grayscale-knob rows
      // (r=g=b makes the L conversion exact)
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'ico' ELSE 'eps' END AS dst_fmt, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'ico' ELSE 'eps' END AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CASE WHEN doc_id % 4 IN (1, 2) THEN 'L' ELSE 'RGB' END AS mode, " +
        "CAST((CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 3 END) " +
        "* w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_ico_dib" ->
      // XOR rows carry seed+y in every channel (3·w·(h·seed + h(h−1)/2));
      // the AND mask zeroes alpha on rows y % 3 == 0 (count ⌈h/3⌉ =
      // (h+2)//3), the rest contribute 255·w each — RGBA sum convention
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 8 END AS INT) AS bpp, " +
        "'png' AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, 'RGBA' AS mode, " +
        "CAST(3 * w * (h * seed + h * (h - 1) // 2) " +
        "+ 255 * w * (h - (h + 2) // 3) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_resize" ->
      // even ids: horizontal-only stretch of row-banded content (row y is
      // seed+y in every channel, wrap-free) -> rows keep their value, sum =
      // 3*(w+3)*(h*seed + h(h-1)/2); odd ids: a constant raster (seed) to
      // (w+2)x(h+5) -> sum = 3*(w+2)*(h+5)*seed
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN w + 3 ELSE w + 2 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN h ELSE h + 5 END AS INT) AS height, " +
        "'RGB' AS mode, " +
        "CAST(CASE WHEN doc_id % 2 = 0 " +
        "THEN 3 * (w + 3) * (h * seed + h * (h - 1) // 2) " +
        "ELSE 3 * (w + 2) * (h + 5) * seed END AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_webp" ->
      // every source format carries value seed+y in each channel at row y
      // (gif via its gray palette), and VP8L is lossless with RGB the only
      // non-alpha layout — so mode is always RGB and the sum is always
      // 3 * w * (h*seed + h(h-1)/2), grayscale knob or not (r=g=b)
      ("WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents) " +
        "SELECT doc_id, 'webp' AS format, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, 'RGB' AS mode, " +
        "CAST(3 * w * (h * seed + h * (h - 1) // 2) AS BIGINT) AS pixel_sum " +
        "FROM p ORDER BY doc_id"),
    "ic_ops" ->
      // crop drops the first/last row+column of a row-constant raster;
      // rotate90/flipH preserve the sum; nearest-resize samples row
      // (2f+1)*h // (2*(h+3)) per destination row f (center mapping,
      // truncating like the engine); invert is 255-complement per channel
      ("WITH p AS (SELECT doc_id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h, " +
        "doc_id % 200 AS seed FROM documents), " +
        "b AS (SELECT *, 3 * w * (h * seed + h * (h - 1) // 2) AS full_sum FROM p) " +
        "SELECT doc_id, " +
        "CASE doc_id % 5 WHEN 0 THEN 'crop' WHEN 1 THEN 'rotate90' " +
        "WHEN 2 THEN 'flip_h' WHEN 3 THEN 'resize' ELSE 'invert' END AS op, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN w - 2 WHEN 1 THEN h WHEN 3 THEN 2 * w " +
        "ELSE w END AS INT) AS width, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN h - 2 WHEN 1 THEN w WHEN 3 THEN h + 3 " +
        "ELSE h END AS INT) AS height, " +
        "'RGB' AS mode, " +
        "CAST(CASE doc_id % 5 " +
        "WHEN 0 THEN 3 * (w - 2) * ((h - 2) * (seed + 1) + (h - 2) * (h - 3) // 2) " +
        "WHEN 3 THEN 3 * 2 * w * (SELECT SUM(seed + (2 * t.f + 1) * h // (2 * (h + 3))) " +
        "FROM generate_series(0, 12) AS t(f) WHERE t.f < h + 3) " +
        "WHEN 4 THEN 3 * w * h * 255 - full_sum " +
        "ELSE full_sum END AS BIGINT) AS pixel_sum " +
        "FROM b ORDER BY doc_id"),
    "ac_merge" ->
      // segment j: frames 40 + ((doc_id+j)%5)*10, seed (doc_id+11j)%100;
      // sample f of a segment is seed + f - 2048 (no wrap); merged output
      // is the plain concatenation, so sums add per segment
      ("WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k, " +
        "CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate FROM documents), " +
        "q AS (SELECT doc_id, k, rate, " +
        "(SELECT SUM(40 + ((doc_id + t.j) % 5) * 10) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < k) AS fo, " +
        "(SELECT SUM((40 + ((doc_id + t.j) % 5) * 10) * ((doc_id + 11 * t.j) % 100 - 2048) " +
        "+ (40 + ((doc_id + t.j) % 5) * 10) * (40 + ((doc_id + t.j) % 5) * 10 - 1) // 2) " +
        "FROM generate_series(0, 3) AS t(j) WHERE t.j < k) AS ssum FROM p) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'aiff' ELSE 'wav' END AS format_to, " +
        "CAST(k AS INT) AS n_segments, CAST(fo AS INT) AS frames_out, " +
        "CAST((fo * 2000 + rate) // (2 * rate) AS BIGINT) AS duration_ms, " + // pydub len() rounds +
        "CAST((CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END) + 2 * fo AS BIGINT) AS new_size, " +
        "CAST(ssum AS BIGINT) AS sample_sum " +
        "FROM q ORDER BY doc_id"),
    "ac_headers" ->
      // the fixture wheel's parameters recomputed closed-form: rates come
      // from each container's published code tables (wavpack/adts/ac3/dts
      // indices), durations from the sample/frame arithmetic in the query
      // comment; MLP/TrueHD channels are 0 by contract (layout not parsed)
      ("WITH p AS (SELECT doc_id, doc_id % 15 AS arm, 1 + doc_id % 2 AS ch, " +
        "doc_id % 2 AS odd, doc_id % 3 AS m3, doc_id % 4 AS m4, " +
        "doc_id % 5 AS m5 FROM documents), " +
        "q AS (SELECT *, " +
        "CASE arm WHEN 2 THEN (CASE m4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 22050 ELSE 44100 END) " +
        "WHEN 14 THEN (CASE m3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END) " +
        "// (1 + odd) " +
        "WHEN 4 THEN (CASE m4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 44100 ELSE 48000 END) " +
        "WHEN 5 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 " +
        "WHEN 2 THEN 16000 ELSE 8000 END) " +
        "WHEN 6 THEN (CASE m3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END) " +
        "WHEN 7 THEN (CASE m3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END) " +
        "WHEN 8 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 " +
        "WHEN 2 THEN 32000 ELSE 24000 END) " +
        "WHEN 9 THEN (CASE m4 WHEN 0 THEN 48000 WHEN 1 THEN 96000 " +
        "WHEN 2 THEN 44100 ELSE 88200 END) " +
        "WHEN 0 THEN 8000 WHEN 1 THEN 44100 WHEN 3 THEN 48000 " +
        "WHEN 10 THEN 44100 ELSE 48000 END AS rate FROM p) " +
        "SELECT doc_id, " +
        "CASE arm WHEN 0 THEN 'audio/basic' WHEN 1 THEN 'audio/x-caf' " +
        "WHEN 2 THEN 'audio/x-tta' WHEN 3 THEN 'audio/x-ape' " +
        "WHEN 4 THEN 'audio/x-wavpack' WHEN 5 THEN 'audio/aac' " +
        "WHEN 6 THEN 'audio/ac3' WHEN 7 THEN 'audio/eac3' " +
        "WHEN 8 THEN 'audio/vnd.dts' " +
        "WHEN 9 THEN (CASE WHEN odd = 0 THEN 'audio/mlp' ELSE 'audio/truehd' END) " +
        "WHEN 10 THEN 'audio/x-ms-wma' WHEN 11 THEN 'audio/webm' " +
        "WHEN 12 THEN 'video/x-matroska' WHEN 13 THEN 'audio/opus' " +
        "ELSE 'audio/mpeg' END AS media_type, " +
        "CAST(CASE arm WHEN 6 THEN 2 + odd WHEN 7 THEN 5 + odd " +
        "WHEN 8 THEN (CASE m4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 ELSE 5 END) " +
        "WHEN 9 THEN 0 ELSE ch END AS INT) AS channels, " +
        "CAST(rate AS INT) AS rate, " +
        "CAST(CASE arm " +
        "WHEN 0 THEN (800 + m5 * 80) * 1000 // 8000 " +
        "WHEN 1 THEN 10 * (1 + m4) " +
        "WHEN 2 THEN (1000 + (doc_id % 7) * 100) * 1000 // rate " +
        "WHEN 3 THEN (m4 * 1024 + 100 + m5 * 20) * 1000 // 48000 " +
        "WHEN 4 THEN (4800 + m5 * 480) * 1000 // rate " +
        "WHEN 5 THEN (3 + m4) * 1024 * 1000 // rate " +
        "WHEN 6 THEN (2 + m3) * 1536 * 1000 // rate " +
        "WHEN 7 THEN (2 + m3) * (CASE m4 WHEN 0 THEN 1 WHEN 1 THEN 2 " +
        "WHEN 2 THEN 3 ELSE 6 END) * 256 * 1000 // rate " +
        "WHEN 8 THEN (2 + m3) * 256 * 1000 // rate " +
        "WHEN 9 THEN (120 + m4 * 24) * 40000 // " +
        "(CASE WHEN m4 < 2 THEN 48000 ELSE 44100 END) " +
        "WHEN 10 THEN 1000 + (doc_id % 10) * 100 " +
        "WHEN 11 THEN 500 + (doc_id % 8) * 125 " +
        "WHEN 12 THEN 500 + (doc_id % 8) * 125 " +
        "WHEN 13 THEN 100 * (1 + m4) " +
        "ELSE (2 + m3) * (CASE WHEN odd = 1 THEN 576 ELSE 1152 END) * 1000 // rate " +
        "END AS BIGINT) AS duration_ms " +
        "FROM q ORDER BY doc_id"),
    "ac_flac" ->
      // interleaved sample j of the fixture is seed + j - 2048 (16-bit
      // arm, no wrap: seed < 100, n*ch <= 720); lossless (incl. the
      // stereo-decorrelated rows), so over m = n*ch samples the sum is
      // m*seed + m(m-1)/2 - 2048m regardless of compression level
      ("WITH p AS (SELECT doc_id, doc_id % 100 AS seed, " +
        "(160 + (doc_id % 5) * 40) * " +
        "(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) AS m FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 5 " +
        "ELSE 8 END AS INT) AS level, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS channels, " +
        "CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
        "WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS frame_rate, " +
        "CAST(160 + (doc_id % 5) * 40 AS INT) AS frames_out, " +
        "CAST(m * seed + m * (m - 1) // 2 - 2048 * m AS BIGINT) AS sample_sum, " +
        "'T' || doc_id AS title " +
        "FROM p ORDER BY doc_id"),
    "ac_ogg" ->
      // constants are the Python reference decoder's int16-PCM digests
      // over the committed fixtures (scripts/vorbisref/gen_fixtures.py ->
      // vorbis/manifest.tsv); frames is per channel, sum/max over the
      // interleaved stream
      ("WITH f(k, fixture, frame_rate, channels, frames, pcm_md5, " +
        "sample_sum, max_abs) AS (VALUES " +
        "(0, 'v_mono_long', 44100, 1, 7168, '935fee94cb49f389453e3f6bb7fdb2b2', 83364, 18297), " +
        "(1, 'v_mono_short', 22050, 1, 2688, '5db8f1cadcd1a8fe606d3b5523979bd0', 99939, 15752), " +
        "(2, 'v_blockswitch', 44100, 1, 7936, '732586b75ab61dcadb063de8fccd5d07', 166839, 16309), " +
        "(3, 'v_stereo_coupled', 48000, 2, 7168, '412daeb0ce0c4cbeafeaaa26d829482b', -530565, 15395), " +
        "(4, 'v_stereo_res1', 32000, 2, 6144, '3b52796d9abbaca9f9e1d58e36fcd46b', 67982, 13753), " +
        "(5, 'v_res0', 16000, 1, 3584, '495b72e021f87aafbee9f6a9f6fa224e', -214176, 16601), " +
        "(6, 'v_cascade', 44100, 1, 7168, 'd075795bcf23fd4f83a2c4fca588634f', 86912, 15342), " +
        "(7, 'v_silent_ch', 44100, 2, 6144, 'dd99a4737a595454162aa6baf82d4448', -117466, 14076), " +
        "(8, 'v_submaps', 44100, 3, 6144, '2eaf7a2e5866e77551370d49ff95259d', 298838, 13201), " +
        "(9, 'v_sparse_ordered', 24000, 1, 6144, '717c967e774b16f57517cb6996eded1b', 123571, 16273), " +
        "(10, 'v_longcomment', 8000, 1, 2503, 'b68aa2a9f1c6333759ceab1ebe36b5ce', -37823, 15050), " +
        "(11, 'v_big_blocks', 11025, 1, 12288, '3e7be36dd3ff3a6347d88623be841cec', -209993, 16197)) " +
        "SELECT d.doc_id, f.fixture, CAST(f.frame_rate AS INT) AS frame_rate, " +
        "CAST(f.channels AS INT) AS channels, CAST(f.frames AS INT) AS frames, " +
        "f.pcm_md5, CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, TRUE AS wav_roundtrip_ok " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 12 ORDER BY d.doc_id"),
    "ac_mp3" ->
      // constants are the Python reference decoder's int16-PCM digests
      // over the committed fixtures (scripts/mp3ref/gen_fixtures.py ->
      // mp3/manifest.tsv); frames is per channel, sum/max over the
      // interleaved stream
      ("WITH f(k, fixture, frame_rate, channels, frames, pcm_md5, " +
        "sample_sum, max_abs) AS (VALUES " +
        "(0, 'm1_mono_tones', 44100, 1, 3456, 'f579d1cf84ae490243e219195ff1c854', -7740, 12863), " +
        "(1, 'm1_stereo_lr', 48000, 2, 3456, 'ff8a906cf5158187c02ef1c3be8474ac', 2051, 17649), " +
        "(2, 'm1_ms_stereo', 44100, 2, 3456, '9f6b8c8c215bf1137ef61ec107104494', 1549, 12619), " +
        "(3, 'm1_scalefacs', 32000, 1, 3456, 'fa0c5b951b200860ac5411184acebd88', -1986, 16909), " +
        "(4, 'm2_lsf_mono', 22050, 1, 2304, '9139a4b72738ab81ea8bb43fca2b30f8', 163201, 12779), " +
        "(5, 'm2_lsf_ms', 24000, 2, 2304, '254e5924cb71ffe406cff30f63c4e202', 475055, 12581), " +
        "(6, 'm1_short_blocks', 44100, 1, 2304, 'b78795b8a07c57096e9eabfe1378c1f1', 451669, 23059), " +
        "(7, 'm1_mixed_blocks', 44100, 1, 2304, 'e114cb30f5580baf50d6fbdb094e988d', 63748, 6327), " +
        "(8, 'm1_start_stop', 48000, 1, 2304, '73a58d6ceea17f8a12032f0a6ec73f78', 684983, 25660), " +
        "(9, 'm1_escape_count1b', 44100, 1, 2304, '31ac2ec0dbebe2ab6c62e61263d02819', 576290, 24811), " +
        "(10, 'm1_intensity', 44100, 2, 2304, 'b3f900e1ac118713fbf2a4ca47a3a17e', -746533, 21223), " +
        "(11, 'm1_ms_intensity', 44100, 2, 2304, '4b1bebfe6fd23719e60c075ba7cb1f1e', -262159, 14065), " +
        "(12, 'lame_silence', 22050, 1, 25920, '66cca182a32b80f027bcf4a350e76afa', 0, 0)) " +
        "SELECT d.doc_id, f.fixture, CAST(f.frame_rate AS INT) AS frame_rate, " +
        "CAST(f.channels AS INT) AS channels, CAST(f.frames AS INT) AS frames, " +
        "f.pcm_md5, CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, TRUE AS flac_roundtrip_ok " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 13 ORDER BY d.doc_id"),
    "ac_ogg_encode" ->
      // constants pinned from the two-decoder cross-check: VorbisCodec and
      // the Python reference decoder (scripts/vorbisref/decoder.py) return
      // byte-identical PCM for VorbisEncoder's streams (VorbisEncoderSpec
      // pins the same digests); frames equals the tonePcm input exactly
      // (granule end-trim), snr floor'd dB vs the source
      ("WITH f(k, channels, frame_rate, frames, ogg_bytes, pcm_md5, " +
        "sample_sum, max_abs, snr_db_floor) AS (VALUES " +
        "(0, 1, 44100, 9000, 9230, 'ff459ecb546260f21f5dcb475e6f9840', 193044, 18687, 29), " +
        "(1, 2, 48000, 5000, 10896, 'a95bbc5bf7383b90c43e8001230d85a5', 329023, 18865, 28), " +
        "(2, 1, 8000, 900, 3131, '83f69a403870b873f7ddcf6603411b80', 75981, 17865, 26), " +
        "(3, 2, 16000, 1024, 4852, '39b74e38af27ce33d7f2f54e671f8f5d', 90104, 19114, 25), " +
        "(4, 1, 22050, 3333, 5445, '5026bd479c30a01fee6c026ffd731b46', 194507, 18520, 28), " +
        "(5, 2, 11025, 2048, 5353, '601d91b58d09a29a620e8bee9b74b15e', 110659, 20731, 25)) " +
        "SELECT d.doc_id, CAST(f.channels AS INT) AS channels, " +
        "CAST(f.frame_rate AS INT) AS frame_rate, CAST(f.frames AS INT) AS frames, " +
        "CAST(f.ogg_bytes AS INT) AS ogg_bytes, f.pcm_md5, " +
        "CAST(f.sample_sum AS BIGINT) AS sample_sum, " +
        "CAST(f.max_abs AS INT) AS max_abs, " +
        "CAST(f.snr_db_floor AS INT) AS snr_db_floor " +
        "FROM documents d JOIN f ON f.k = d.doc_id % 6 ORDER BY d.doc_id"),
    "ac_convert" ->
      // Every field of the audio convert result recomputed closed-form:
      // the effect wheel is integer-exact by construction (speed = index
      // stride, slice = frame window, fadeOut = floorDiv ramp the SQL `//`
      // reproduces); canonical container sizes are 44 + data (wav) and
      // 54 + data (aiff); 16-bit mono samples are seed + f - 2048 (no wrap:
      // seed + n < 4096).
      ("WITH p AS (SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 " +
        "ELSE 44100 END AS rate, " +
        "160 + (doc_id % 5) * 40 AS n, doc_id % 100 AS seed FROM documents), " +
        "q AS (SELECT doc_id, rate, n, seed, " +
        "LEAST(5 * rate // 1000, n) AS k, " +
        "2 * rate // 1000 AS a, LEAST(n, 25 * rate // 1000) AS b, " +
        "CASE doc_id % 3 WHEN 0 THEN n // 2 WHEN 1 THEN n " +
        "ELSE LEAST(n, 25 * rate // 1000) - 2 * rate // 1000 END AS fo FROM p) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'aiff' ELSE 'wav' END AS format_to, " +
        "CAST(1 AS INT) AS channels, CAST(rate AS INT) AS frame_rate, " +
        "CAST(2 AS INT) AS sample_width, CAST(fo AS INT) AS frames_out, " +
        "CAST((fo * 2000 + rate) // (2 * rate) AS BIGINT) AS duration_ms, " + // pydub len() rounds +
        // canonical container header sizes by input wheel: wav 44, aiff 54,
        // au 24, caf 68 (8 file hdr + 44 desc + 12 data hdr + 4 edit count)
        "CAST((CASE doc_id % 4 WHEN 0 THEN 44 WHEN 1 THEN 54 WHEN 2 THEN 24 " +
        "ELSE 68 END) + 2 * n AS BIGINT) AS orig_size, " +
        "CAST((CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END) + 2 * fo AS BIGINT) AS new_size, " +
        "CAST(CASE doc_id % 3 " +
        "WHEN 0 THEN (n // 2) * (seed - 2048) + (n // 2) * (n // 2 - 1) " +
        // constant series bounds (n <= 320): DuckDB's generate_series
        // rejects lateral column arguments, so filter per row instead
        "WHEN 1 THEN (SELECT SUM(CASE WHEN t.f < n - k THEN seed + t.f - 2048 " +
        "ELSE ((seed + t.f - 2048) * (n - 1 - t.f)) // k END) " +
        "FROM generate_series(0, 319) AS t(f) WHERE t.f < n) " +
        "ELSE (b - a) * (seed - 2048) + ((a + b - 1) * (b - a)) // 2 " +
        "END AS BIGINT) AS sample_sum " +
        "FROM q ORDER BY doc_id"),
    "dc_v1_to_v2" ->
      ("SELECT c_custkey, " +
        "trim('Cust' || ' ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0')) AS full_name, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email_address, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at, " +
        "CASE WHEN c_custkey % 3 = 1 THEN 'inactive' ELSE 'active' END AS status " +
        "FROM customer ORDER BY c_custkey"),
    "dc_v2_to_v3" ->
      ("SELECT c_custkey, 'Cust' AS name_first, " +
        "lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS name_last, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS contact_email, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS meta_created_at, " +
        "(c_custkey % 2 = 0) AS meta_active FROM customer ORDER BY c_custkey"),
    "dc_v3_roundtrip" ->
      ("SELECT c_custkey, 'Cust' AS first_name, " +
        "lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS last_name, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at, " +
        "(c_custkey % 2 = 0) AS active FROM customer ORDER BY c_custkey"),
    "dc_sample" ->
      ("SELECT * FROM (VALUES " +
        "('Ada Lovelace', 'ada@example.com', '1843-12-10', 'active'), " +
        "('Alan Turing', 'alan@example.com', '1936-06-01', 'inactive')) " +
        "AS t(full_name, email_address, created_at, status) ORDER BY full_name"),
    "dc_csv_roundtrip" ->
      ("SELECT c_custkey, c_name, 'seg \"' || c_mktsegment || '\", ok' AS note " +
        "FROM customer ORDER BY c_custkey"),
    "dc_ndjson_roundtrip" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",
    "dc_keyvalue_roundtrip" ->
      ("SELECT c_custkey, c_name AS name, c_mktsegment AS segment, " +
        "c_acctbal AS balance FROM customer ORDER BY c_custkey"),
    "dc_split_merge" ->
      ("SELECT doc_id, CAST(greatest(ceil(strlen(text) / 256.0), 1) AS INT) AS n_parts, " +
        "text AS restored FROM documents ORDER BY doc_id"),
    "dc_json_parse" ->
      ("SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k " +
        "FROM events ORDER BY event_id"),
    "dc_json_pretty" ->
      ("SELECT c_custkey, " +
        "'{' || chr(10) || " +
        "'  \"firstName\": \"Cust\",' || chr(10) || " +
        "'  \"lastName\": \"' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') || '\",' || chr(10) || " +
        "'  \"email\": \"cust' || CAST(c_custkey AS VARCHAR) || '@ex\\u00e4mple.com\",' || chr(10) || " +
        "'  \"createdAt\": \"2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') || '\",' || chr(10) || " +
        "'  \"active\": ' || CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END || chr(10) || " +
        "'}' AS js FROM customer ORDER BY c_custkey"),
    "fn_formats" ->
      ("SELECT direction, ext FROM (VALUES ('input', '.txt'), ('input', '.rtf'), " +
        "('input', '.doc'), ('input', '.docx'), ('input', '.odt'), ('input', '.ott'), " +
        "('input', '.sxw'), ('input', '.xls'), ('input', '.xlsx'), ('input', '.ods'), " +
        "('input', '.ots'), ('input', '.csv'), ('input', '.ppt'), ('input', '.pptx'), " +
        "('input', '.odp'), ('input', '.otp'), ('input', '.pub'), ('input', '.html'), " +
        "('input', '.htm'), ('input', '.xml'), ('input', '.epub'), ('input', '.fodt'), " +
        "('input', '.fods'), ('input', '.fodp'), ('output', '.pdf'), ('output', '.txt'), " +
        "('output', '.rtf'), ('output', '.doc'), ('output', '.docx'), ('output', '.odt'), " +
        "('output', '.html'), ('output', '.xml'), ('output', '.xls'), ('output', '.xlsx'), " +
        "('output', '.ods'), ('output', '.csv'), ('output', '.ppt'), ('output', '.pptx'), " +
        "('output', '.odp'), ('output', '.epub'), ('payload', 'html'), ('payload', 'pdf'), " +
        "('payload', 'txt'), ('payload', 'rtf'), ('payload', 'docx'), ('payload', 'pptx'), " +
        "('payload', 'xlsx'), ('payload', 'odt'), ('payload', 'odp'), ('payload', 'ods'), " +
        "('payload', 'fodt'), ('payload', 'fodp'), ('payload', 'fods'), ('payload', 'epub'), " +
        "('payload', 'doc'), ('payload', 'xls'), ('payload', 'ppt'), " +
        "('payload', 'pub')) AS t(direction, ext) " +
        "ORDER BY direction, ext"),
    "fn_surface" ->
      ("SELECT doc_id, " +
        "CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx' ELSE '.woff' END AS ext_norm, " +
        "CASE doc_id % 3 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' ELSE 'woff' END AS kernel, " +
        "(doc_id % 3 = 1) AS in_whitelist, " +
        "printf('%.2f B', CAST(n_chars AS DOUBLE)) AS size_b, " +
        "printf('%.2f KB', CAST(n_chars AS DOUBLE)) AS size_kb, " +
        "printf('%.2f MB', CAST(n_chars AS DOUBLE)) AS size_mb, " +
        "(doc_id % 2 = 1) AS is_binary, " +
        "CASE doc_id % 3 WHEN 0 THEN 'application/pdf' " +
        "WHEN 1 THEN 'application/rtf' " +
        "ELSE 'application/octet-stream' END AS mime, " +
        "strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%S.%f') AS iso_ts " +
        "FROM documents ORDER BY doc_id"),
    "dc_header_union" ->
      ("SELECT header FROM (VALUES ('balance'), ('name'), ('nation'), ('segment')) " +
        "AS t(header) ORDER BY header"),
    "dc_keyvalue_serialize" ->
      ("SELECT c_custkey, 'name=' || c_name || chr(10) || 'segment=' || c_mktsegment || " +
        "chr(10) || 'balance=' || CAST(c_acctbal AS VARCHAR) AS kv " +
        "FROM customer ORDER BY c_custkey"),
    "mm_audio_merge" ->
      ("SELECT o_custkey % 100 AS grp, CAST(count(*) AS INT) AS n_files, " +
        "sum(o_orderkey % 10000) / 1000.0 AS total_duration " +
        "FROM orders GROUP BY 1 ORDER BY grp"),
    "pipeline_curate" ->
      // keep-first dedup mirrored: min(doc_id) per distinct text, format
      // derived from the SURVIVOR id — correct even if two source docs
      // happen to share a text
      ("WITH s AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text), " +
        "f AS (SELECT doc_id, text, " + formatFromSql + " AS format_from FROM s) " +
        "SELECT format_from, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens " +
        "FROM f GROUP BY 1 ORDER BY format_from"),
    "pipeline_resume" ->
      ("WITH urls AS (SELECT 'https://' || source || '.example.org/' || lang || '/doc' || " +
        "CAST(doc_id AS VARCHAR) AS url FROM documents) " +
        "SELECT CAST(CAST(CONCAT('0x', substring(md5(url), 1, 8)) AS UBIGINT) % 64 AS INT) " +
        "AS partition_id, CAST(count(*) AS BIGINT) AS docs " +
        "FROM urls GROUP BY 1 ORDER BY partition_id"),
    "stream_metrics" ->
      ("SELECT " + formatFromSql + " AS format_from, " +
        "CAST(count(*) AS BIGINT) AS docs, CAST(sum(n_chars) AS BIGINT) AS bytes_out, " +
        "CAST(0 AS BIGINT) AS failures FROM documents GROUP BY 1 ORDER BY format_from"),
    "ta_tokens" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(n_chars AS BIGINT) AS n_chars FROM documents ORDER BY doc_id"),
    "ta_quality" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(n_chars - (len(string_split(text, ' ')) - 1) AS INT) AS word_chars, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN " +
        "('the','a','an','of','and','to','in','is','on','for','it','as','with','by','at','or','be','this','that','from'))) AS INT) AS stopword_ct, " +
        "CAST(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS INT) AS max_word_len " +
        "FROM documents ORDER BY doc_id"),
    "ta_fingerprint" ->
      "SELECT doc_id, substring(md5(text), 1, 16) AS fp FROM documents ORDER BY doc_id",
    "dedup_exact" ->
      ("WITH c AS (SELECT text FROM documents UNION ALL " +
        "SELECT text FROM documents WHERE doc_id % 5 = 0) " +
        "SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS cnt FROM c " +
        "GROUP BY 1 HAVING count(*) > 1 ORDER BY h"),
    "dedup_ngram_jaccard" -> jaccardOracle,
    "dedup_minhash_lsh" -> jaccardOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_substring" ->
      // mirror of Dedup.substringDupSpans at k=8: md5 over the space-joined
      // window (same UTF-8 bytes both sides), gaps-and-islands for runs
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "base AS (SELECT doc_id, GREATEST(len(toks) - 7, 0) AS n_windows, toks FROM t), " +
        "w AS (SELECT doc_id, i AS idx, md5(array_to_string(toks[i:i+7], ' ')) AS h " +
        "FROM base, LATERAL (SELECT unnest(generate_series(1, n_windows)) AS i) g), " +
        "dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1), " +
        "d AS (SELECT w.doc_id, w.idx FROM w JOIN dup USING (h)), " +
        "runs AS (SELECT doc_id, idx - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY idx) AS grp FROM d), " +
        "isl AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp), " +
        "agg AS (SELECT doc_id, sum(run) AS dup_windows, max(run) + 7 AS max_run_tokens " +
        "FROM isl GROUP BY doc_id) " +
        "SELECT b.doc_id, CAST(b.n_windows AS INT) AS n_windows, " +
        "CAST(COALESCE(a.dup_windows, 0) AS INT) AS dup_windows, " +
        "CAST(COALESCE(a.max_run_tokens, 0) AS INT) AS max_run_tokens " +
        "FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id"),
    "dedup_exact_survivors" ->
      ("WITH c AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 5 = 0) " +
        "SELECT CAST(min(id) AS BIGINT) AS id FROM c GROUP BY text ORDER BY id"),
    "dedup_clusters" ->
      ("WITH RECURSIVE " + jaccardCorpusAndPairs + ", " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
        "UNION ALL SELECT b_id, a_id FROM pairs), " +
        "reach(id, r) AS (SELECT id, id FROM corpus " +
        "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst) " +
        "SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id ORDER BY id"),
    "ta_langid" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(count(*) AS BIGINT) AS correct FROM documents GROUP BY lang ORDER BY lang"),
    "sim_ann_ivf" -> annRecallOracle,
    "sim_ann_lsh" -> annRecallOracle,
    "dedup_embedding" ->
      ("WITH o AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "p AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(embedding, (x, j) -> CAST(x AS DOUBLE) * (1 + (((vec_id * 64 + j - 1) % 7) - 3) * 0.002)) AS v " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        "c AS (SELECT * FROM o UNION ALL SELECT * FROM p) " +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM c a JOIN c b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.9 ORDER BY a_id, b_id"),
    "sim_topk" ->
      ("WITH o AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM o WHERE vec_id < 5), " +
        "s AS (SELECT q.qid, o.vec_id, list_cosine_similarity(q.qv, o.v) AS score FROM q, o), " +
        "r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn FROM s) " +
        "SELECT qid, CAST(rn AS INT) AS \"rank\", vec_id FROM r WHERE rn <= 10 ORDER BY qid, rn"),
    "rel_agg_pricing" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c, " +
        "CAST(count(*) AS BIGINT) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "rel_join_topcust" ->
      ("SELECT c_custkey, c_name, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_spent_c " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY c_custkey"),
    "rel_window_latest_order" ->
      ("WITH r AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
        "FROM orders) SELECT o_custkey, o_orderkey, latest_date FROM r WHERE rn = 1 ORDER BY o_custkey"),
    "stream_dedup" ->
      // keep-first across micro-batches == MIN per digest here: batch-1
      // re-arrivals always carry ids +100000 above their batch-0 originals
      ("WITH all_rows AS (" +
        "SELECT md5(text) AS digest, doc_id FROM documents " +
        "UNION ALL SELECT md5(text) AS digest, doc_id + 100000 FROM documents " +
        "WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT md5(text || 'v2') AS digest, doc_id + 200000 " +
        "FROM documents WHERE doc_id % 7 = 0) " +
        "SELECT digest, CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM all_rows " +
        "GROUP BY digest ORDER BY digest"),
    "stream_sessions" ->
      ("WITH x AS (SELECT user_id, ts, event_id, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) " +
        "SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR " +
        "date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS sessions, " +
        "CAST(count(*) AS BIGINT) AS events FROM x GROUP BY user_id ORDER BY user_id"),
    "rel_events_sessions" ->
      ("WITH x AS (SELECT user_id, ts, event_id, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) " +
        "SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR " +
        "date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS sessions, " +
        "CAST(count(*) AS BIGINT) AS events FROM x GROUP BY user_id ORDER BY user_id"),
    "rel_range_join" ->
      ("SELECT l.l_orderkey, l.l_linenumber FROM lineitem l JOIN orders o " +
        "ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate " +
        "AND l.l_shipdate <= o.o_orderdate + INTERVAL 122 DAY " +
        "ORDER BY l.l_orderkey, l.l_linenumber"),
    "rel_asof_join" ->
      ("SELECT e.event_id, e.user_id, CAST(o.o_orderdate AS DATE) AS asof_date " +
        "FROM events e ASOF LEFT JOIN orders o " +
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate ORDER BY e.event_id"),
    "rel_rollup" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "rel_topk_parts" ->
      ("SELECT l_partkey, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue " +
        "FROM lineitem GROUP BY l_partkey ORDER BY revenue DESC, l_partkey ASC LIMIT 10"),
    "rel_setops_silent_cust" ->
      ("SELECT o_custkey FROM orders EXCEPT SELECT user_id FROM events " +
        "ORDER BY o_custkey"),
    "scale_size_buckets" ->
      ("SELECT CAST(least(n_chars // 64, 7) AS INT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS docs FROM documents GROUP BY 1 ORDER BY bucket"),
    "scale_salt" ->
      ("SELECT CAST((doc_id * 2654435761) % 16 AS INT) AS salt, " +
        "CAST(count(*) AS BIGINT) AS docs FROM documents GROUP BY 1 ORDER BY salt"),
    "cur_c4_filter" ->
      ("WITH " + curLinesSql + ", " + curDecSql + ", " +
        "f AS (SELECT doc_id, ls, list_filter(ls, l -> ends_with(l, '.') " +
        "AND len(string_split(l, ' ')) >= 5 AND NOT contains(l, 'javascript')) AS k FROM dec) " +
        "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, CAST(len(k) AS INT) AS kept_lines, " +
        "(len(list_filter(ls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0 AND len(k) > 0) AS doc_keep, " +
        "CASE WHEN len(list_filter(ls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0 AND len(k) > 0 " +
        "THEN md5(array_to_string(k, chr(10))) END AS kept_md5 FROM f ORDER BY doc_id"),
    "cur_gopher_quality" ->
      ("WITH g AS (SELECT doc_id, text || CASE WHEN doc_id % 23 = 0 " +
        "THEN ' 0000 1111 2222 3333 4444 5555 6666 7777 8888 9999' ELSE '' END AS text FROM documents), " +
        "w AS (SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS lc FROM g), " +
        "x AS (SELECT doc_id, len(ws) AS n, lc - (len(ws) - 1) AS wc, " +
        "len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha, " +
        "len(list_intersect(ws, [" + stopListSql + "])) AS stops FROM w) " +
        "SELECT doc_id, CAST(n AS INT) AS n_words, " +
        "(n >= 25 AND n <= 100000) AS rule_wordcount, " +
        "(wc >= n * 4 AND wc <= n * 10) AS rule_meanwordlen, " +
        "(stops >= 2) AS rule_stopwords, " +
        "(alpha * 5 >= n * 4) AS rule_alpha, " +
        "(n >= 25 AND n <= 100000 AND wc >= n * 4 AND wc <= n * 10 " +
        "AND stops >= 2 AND alpha * 5 >= n * 4) AS keep FROM x ORDER BY doc_id"),
    "cur_repetition" ->
      ("WITH " + curLinesSql + ", " +
        "r AS (SELECT doc_id, ls, list_distinct(ls) AS dls, ws, len(ws) AS n " +
        "FROM lines JOIN w USING (doc_id)), " +
        "g AS (SELECT doc_id, ls, dls, n, list_transform(range(1, CASE WHEN n >= 2 THEN n ELSE 2 END), " +
        "i -> ws[i] || ' ' || ws[i + 1]) AS gs FROM r) " +
        "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
        "CAST(len(ls) - len(dls) AS INT) AS dup_line_ct, " +
        "CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) - " +
        "coalesce(list_sum(list_transform(dls, x -> length(x))), 0) AS INT) AS dup_line_chars, " +
        "CAST(CASE WHEN n >= 2 THEN list_max(list_transform(list_distinct(gs), " +
        "x -> len(list_filter(gs, y -> y = x)))) ELSE 0 END AS INT) AS top2gram_ct " +
        "FROM g ORDER BY doc_id"),
    "cur_line_dedup" ->
      ("WITH " + curLinesSql + ", " +
        "e AS (SELECT doc_id, len(ls) AS n_lines, unnest(ls) AS line, unnest(range(len(ls))) AS idx FROM lines), " +
        "freq AS (SELECT line, count(*) AS df FROM e GROUP BY line), " +
        "kept AS (SELECT e.* FROM e JOIN freq USING (line) WHERE df <= 4) " +
        "SELECT doc_id, CAST(any_value(n_lines) AS INT) AS n_lines, CAST(count(*) AS INT) AS kept_ct, " +
        "md5(string_agg(line, chr(10) ORDER BY idx)) AS kept_md5, " +
        "CAST(any_value(n_lines) - count(*) AS INT) AS removed_ct " +
        "FROM kept GROUP BY doc_id ORDER BY doc_id"),
    "cur_pii_scrub" ->
      ("WITH p AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 4 = 0 THEN ' contact cust' || CAST(doc_id AS VARCHAR) || '@mail.example.com for details' " +
        "WHEN doc_id % 4 = 1 THEN ' server 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' up' " +
        "WHEN doc_id % 4 = 2 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' " +
        "ELSE '' END AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.emailPattern + "')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.ipv4Pattern + "')) AS INT) AS n_ips, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.phonePattern + "')) AS INT) AS n_phones, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'" + WebCuration.emailPattern + "', '<EMAIL>', 'g'), " +
        "'" + WebCuration.ipv4Pattern + "', '<IP>', 'g'), " +
        "'" + WebCuration.phonePattern + "', '<PHONE>', 'g')) AS scrubbed_md5 " +
        "FROM p ORDER BY doc_id"),
    "cur_hash_sample" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS total, " +
        "CAST(sum(CASE WHEN substring(md5(text), 1, 2) < " +
        "(CASE WHEN lang = 'en' THEN '80' WHEN lang = 'es' THEN '60' ELSE '40' END) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS kept FROM documents GROUP BY lang ORDER BY lang"),
    "cur_token_mix" ->
      ("WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n, " +
        "(strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 4 AS shard, " +
        "sum(len(string_split(text, ' '))) OVER (" +
        "PARTITION BY lang, (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 4 " +
        "ORDER BY md5(text), doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents) " +
        "SELECT lang, CAST(shard AS INT) AS shard, doc_id, CAST(n AS INT) AS n_tokens, " +
        "CAST(cum AS BIGINT) AS cum_tokens " +
        "FROM t WHERE cum - n < 500 ORDER BY lang, shard, doc_id"),
    "cur_url_dedup" ->
      ("WITH r AS (" +
        "SELECT 'HTTP://Host' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM:80/p/' || " +
        "CAST(doc_id AS VARCHAR) || '#frag' AS url, doc_id AS ts FROM documents " +
        "UNION ALL " +
        "SELECT 'http://host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/' || " +
        "CAST(doc_id AS VARCHAR) || '/', doc_id + 1000000 FROM documents), " +
        "c AS (SELECT regexp_replace(regexp_replace(regexp_replace(lower(url), " +
        "'#.*$', '', 'g'), '^([a-z][a-z0-9+.-]*://[^/]*):80(/|$)', '\\1\\2', 'g'), " +
        "'/$', '', 'g') AS canon_url, ts FROM r), " +
        "k AS (SELECT canon_url, ts, row_number() OVER (PARTITION BY canon_url ORDER BY ts DESC) AS rn, " +
        "count(*) OVER (PARTITION BY canon_url) AS n_raw FROM c) " +
        "SELECT canon_url, CAST(n_raw AS BIGINT) AS n_raw, CAST(ts AS BIGINT) AS kept_ts " +
        "FROM k WHERE rn = 1 ORDER BY canon_url"),
    "cur_funnel" ->
      ("WITH " + curLinesSql + ", " + curDecSql + ", " +
        "b AS (SELECT lines.doc_id AS doc_id, lines.ls AS ls0, dec.ls AS dls, w.ws AS ws, w.text AS text " +
        "FROM lines JOIN dec USING (doc_id) JOIN w USING (doc_id)), " +
        "g AS (SELECT doc_id, ls0, len(ws) AS n, length(text) - (len(ws) - 1) AS wc, " +
        "len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS alpha, " +
        "len(list_intersect(ws, [" + stopListSql + "])) AS stops, " +
        "list_filter(dls, l -> ends_with(l, '.') AND len(string_split(l, ' ')) >= 5 " +
        "AND NOT contains(l, 'javascript')) AS k, " +
        "(len(list_filter(dls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0) AS nodrop, " +
        "list_transform(range(1, CASE WHEN len(ws) >= 2 THEN len(ws) ELSE 2 END), " +
        "i -> ws[i] || ' ' || ws[i + 1]) AS gs FROM b), " +
        "v AS (SELECT doc_id, n, k, " +
        "(n >= 25 AND n <= 100000 AND wc >= n * 4 AND wc <= n * 10 " +
        "AND stops >= 2 AND alpha * 5 >= n * 4) AS gk, " +
        "(nodrop AND len(k) > 0) AS ck, " +
        "(len(ls0) = len(list_distinct(ls0)) AND " +
        "(CASE WHEN n >= 2 THEN list_max(list_transform(list_distinct(gs), " +
        "x -> len(list_filter(gs, y -> y = x)))) ELSE 0 END) <= 4) AS rk FROM g) " +
        "SELECT doc_id, " +
        "CASE WHEN NOT gk THEN 'gopher' WHEN NOT ck THEN 'c4' " +
        "WHEN NOT rk THEN 'repetition' ELSE 'kept' END AS stage, " +
        "CAST(n AS INT) AS n_words, CAST(len(k) AS INT) AS kept_ct, " +
        "CASE WHEN gk AND ck AND rk THEN md5(regexp_replace(regexp_replace(regexp_replace(" +
        "array_to_string(k, chr(10)), " +
        "'" + WebCuration.emailPattern + "', '<EMAIL>', 'g'), " +
        "'" + WebCuration.ipv4Pattern + "', '<IP>', 'g'), " +
        "'" + WebCuration.phonePattern + "', '<PHONE>', 'g')) END AS kept_md5 " +
        "FROM v ORDER BY doc_id"),
    "src_warc_roundtrip" ->
      ("SELECT doc_id, 'https://example.com/doc' || CAST(doc_id AS VARCHAR) AS url, " +
        "CAST(200 AS INT) AS status, 'text/plain; charset=utf-8' AS mime, " +
        "CAST(strlen(text) AS BIGINT) AS payload_octets, md5(text) AS payload_md5 " +
        "FROM documents ORDER BY doc_id"),
    "src_warc_dsv2" ->
      ("SELECT doc_id, 'https://example.com/doc' || CAST(doc_id AS VARCHAR) AS url, " +
        "CAST(200 AS INT) AS status, 'text/plain; charset=utf-8' AS mime, " +
        "CAST(strlen(text) AS BIGINT) AS payload_octets, md5(text) AS payload_md5 " +
        "FROM documents ORDER BY doc_id"),
    "src_warc_extract" ->
      ("SELECT " + formatFromSql + " AS format_from, " +
        "CAST(count(*) AS BIGINT) AS docs, CAST(sum(n_chars) AS BIGINT) AS bytes_out, " +
        "CAST(0 AS BIGINT) AS failures FROM documents GROUP BY 1 ORDER BY format_from")
  )

  /** The C4 decoration pass (WebCuration.c4DecorateCol) in SQL over the
    * `lines` CTE — shared by the cur_c4_filter / cur_funnel oracles.
    * DuckDB's list_transform index is 1-based where Spark's transform
    * index is 0-based; every arm compensates with (i - 1). */
  private val curDecSql: String =
    "d1 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN (doc_id * 3 + i - 1) % 17 = 0 " +
      "THEN 'javascript ' || x ELSE x END) AS ls FROM lines), " +
      "d2 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN doc_id % 13 = 0 AND i = 1 " +
      "THEN x || ' lorem ipsum' ELSE x END) AS ls FROM d1), " +
      "d3 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN doc_id % 19 = 0 AND i = 2 " +
      "THEN x || ' {' ELSE x END) AS ls FROM d2), " +
      "dec AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN (doc_id + i - 1) % 5 <> 4 " +
      "THEN x || '.' ELSE x END) AS ls FROM d3)"

  /** The curation line corpus (WebCuration.lineCorpus) in SQL — shared by
    * the cur_c4_filter / cur_repetition / cur_line_dedup / cur_funnel
    * oracles. */
  private val curLinesSql: String =
    "w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents), " +
      "base AS (SELECT doc_id, text, list_transform(range(CAST(ceil(len(ws) / 10.0) AS BIGINT)), " +
      "i -> array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')) AS l0 FROM w), " +
      "inj AS (SELECT doc_id, text, (CASE WHEN doc_id % 2 = 0 THEN ['" + WebCuration.headerLine + "'] ELSE [] END) || l0 " +
      "|| (CASE WHEN doc_id % 3 = 0 THEN ['" + WebCuration.footerLine + "'] ELSE [] END) AS l1 FROM base), " +
      "lines AS (SELECT doc_id, text, l1 || (CASE WHEN doc_id % 7 = 0 THEN l1[1:2] ELSE [] END) AS ls FROM inj)"

  /** TextAnalysis.stopwords as a SQL list body — keeps the gopher oracle in
    * lock-step with the Spark-side stopword list. */
  private val stopListSql: String =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** The corpus payload-format wheel (Corpus.formatOf) in SQL — shared by
    * the extract_formats / extract_metrics / stream_metrics oracles. */
  private val formatFromSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'html' ELSE CASE doc_id % 24 " +
      "WHEN 1 THEN 'docx' WHEN 3 THEN 'pdf' WHEN 5 THEN 'pptx' WHEN 7 THEN 'xlsx' " +
      "WHEN 9 THEN 'odt' WHEN 11 THEN 'odp' WHEN 13 THEN 'ods' WHEN 15 THEN 'rtf' " +
      "WHEN 17 THEN 'doc' WHEN 19 THEN 'xls' WHEN 21 THEN 'ppt' ELSE 'epub' END END"

  /** Shared CTE body: the near-dup verification corpus and its exhaustive
    * word-3-gram Jaccard >= 4/5 pair set (integer cross-multiplication). */
  private val jaccardCorpusAndPairs: String =
    "corpus AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS id, " +
      "array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 50 != 0), ' ') AS text " +
      "FROM documents WHERE doc_id % 5 = 0), " +
      "w AS (SELECT id, string_split(text, ' ') AS words FROM corpus), " +
      "sh AS (SELECT DISTINCT id, CASE WHEN len(words) < 3 THEN array_to_string(words, ' ') " +
      "ELSE words[i] || ' ' || words[i+1] || ' ' || words[i+2] END AS s " +
      "FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i) t), " +
      "n AS (SELECT id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY id), " +
      "inter AS (SELECT a.id AS a_id, b.id AS b_id, CAST(count(*) AS BIGINT) AS i " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2), " +
      "pairs AS (SELECT i.a_id, i.b_id FROM inter i " +
      "JOIN n na ON na.id = i.a_id JOIN n nb ON nb.id = i.b_id " +
      "WHERE 5 * i.i >= 4 * (na.ns + nb.ns - i.i))"

  /** Shared oracle for the two jaccard-threshold dedup queries. */
  private val jaccardOracle: String =
    s"WITH $jaccardCorpusAndPairs SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id"

  /** ANN recall gate oracle: every query id must clear the recall floor. */
  private val annRecallOracle: String =
    "SELECT vec_id AS qid, true AS recall_ok FROM embeddings WHERE vec_id < 5 ORDER BY qid"

  /** Exhaustive SimHash oracle: recomputes the 64-bit signature per doc in
    * SQL — FNV-1a word hashes via UBIGINT xor + HUGEINT multiply mod 2^64,
    * per-bit ±count vote, bit_or packing — then ALL pairs within hamming
    * distance 3. The Spark side only ever joins on 16-bit chunks
    * (pigeonhole banding), so matching this all-pairs oracle proves both
    * soundness and completeness of the banding. */
  private val simhashOracle: String =
    "WITH corpus AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS id, " +
      "array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 50 != 0), ' ') AS text " +
      "FROM documents WHERE doc_id % 5 = 0), " +
      "wc AS (SELECT id, w, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM corpus, UNNEST(list_filter(string_split(text, ' '), x -> x != '')) AS t(w) " +
      "GROUP BY id, w), " +
      "wh AS (SELECT id, cnt, CAST(list_reduce(" +
      "list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      "list_transform(string_split_regex(w, ''), c -> CAST(ord(c) AS HUGEINT))), " +
      "(acc, c) -> (xor(CAST(acc % 18446744073709551616 AS UBIGINT), CAST(c AS UBIGINT))::HUGEINT " +
      "* 1099511628211) % 18446744073709551616) AS UBIGINT) AS h FROM wc), " +
      "bits AS (SELECT id, b.bit, " +
      "sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v " +
      "FROM wh, (SELECT unnest(generate_series(0, 63)) AS bit) b GROUP BY id, b.bit), " +
      "usigs AS (SELECT id, bit_or(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << bit " +
      "ELSE CAST(0 AS UBIGINT) END) AS sig_u FROM bits GROUP BY id), " +
      "sigs AS (SELECT id, CASE WHEN sig_u >= CAST(9223372036854775808 AS UBIGINT) " +
      "THEN CAST(CAST(sig_u AS HUGEINT) - 18446744073709551616 AS BIGINT) " +
      "ELSE CAST(sig_u AS BIGINT) END AS sig FROM usigs) " +
      "SELECT a.id AS a_id, b.id AS b_id, " +
      "CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming " +
      "FROM sigs a JOIN sigs b ON a.id < b.id " +
      "WHERE bit_count(xor(a.sig, b.sig)) <= 3 ORDER BY a_id, b_id"
}
