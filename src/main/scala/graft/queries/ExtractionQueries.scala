package graft.queries

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.fixtures.HtmlTemplates.paragraphize
import graft.serialize._
import graft.serialize.LegacyOfficeWriters.{DocWriter, PptWriter, PubWriter, XlsWriter}

import Shared._

/** Extraction kernels (K2 html / K3 pdf / S2 sniff / S15 metrics): the
  * corpus through the batch pipeline, and per-document payloads of every
  * other whitelisted format through `Extractor.extractOne`. */
object ExtractionQueries {

  /** Per-document extraction queries: `payload(doc_id, text)` writes each
    * source document in one format, `extractOne` reads it back, and the row
    * is (doc_id, refined format_from, success, text with '\n' respaced),
    * plus `has_error` when `withError`. */
  private def extractEach(s: SparkSession, dir: String, withError: Boolean = false)(
      payload: (Long, String) => Array[Byte]): DataFrame = {
    import s.implicits._
    val rows = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val r = Extractor.extractOne(
          graft.model.WebPage(s"doc$id", new java.sql.Timestamp(0), payload(id, t), "", "en"), 0)
        (id, r.format_from, r.success, r.text.replace('\n', ' '), r.error.nonEmpty)
      }.toDF("doc_id", "format_from", "success", "text", "has_error")
    (if (withError) rows else rows.drop("has_error")).orderBy("doc_id")
  }

  /** An [[extractEach]] query whose every document extracts back to its
    * source text, with `formatFrom` the SQL for the refined kind. */
  private def identityQuery(name: String, formatFrom: String)(
      payload: (Long, String) => Array[Byte]): Query =
    Query(name, s"SELECT doc_id, $formatFrom AS format_from, true AS success, text " +
      "FROM documents ORDER BY doc_id")((s, dir) => extractEach(s, dir)(payload))

  val all: Seq[Query] = Seq(
    Query("extract_roundtrip", "SELECT doc_id, text FROM documents ORDER BY doc_id") { (s, dir) =>
      extractDF(s, dir)
        .select(col("doc_id"), regexp_replace(col("text"), "\n", " ").as("text"))
        .orderBy("doc_id")
    },
    Query("extract_formats", "SELECT doc_id, " + formatFromSql + " AS format_from " +
        "FROM documents ORDER BY doc_id") { (s, dir) =>
      extractDF(s, dir)
        .select(col("doc_id"), col("format_from")).orderBy("doc_id")
    },
    Query("extract_metrics", formatRollupSql) { (s, dir) =>
      formatRollup(extractDF(s, dir))
    },

    // PPTX/XLSX byte-identity: payloads synthesized per doc inside the
    // query (corpus routing stays docx), extracted, refined kind asserted,
    // newline-respaced text must equal the source document exactly
    identityQuery("extract_pptx", "'pptx'") { (id, t) =>
      PptxWriter.generate(paragraphize(t), (id % PptxWriter.numVariants).toInt)
    },
    identityQuery("extract_xlsx", "'xlsx'") { (id, t) =>
      // variants 0 (shared strings) and 2 (inline, stored archive):
      // the ones whose cell layout reproduces the paragraphs verbatim
      XlsxWriter.generate(paragraphize(t), (id % 2).toInt * 2)
    },
    identityQuery("extract_rtf", "'rtf'") { (id, t) =>
      RtfWriter.generate(paragraphize(t), (id % RtfWriter.numVariants).toInt)
    },
    identityQuery("extract_odf",
        "CASE doc_id % 3 WHEN 0 THEN 'odt' WHEN 1 THEN 'odp' ELSE 'ods' END") { (id, t) =>
      val kind = Seq("odt", "odp", "ods")((id % 3).toInt)
      // variants 0-2 preserve the paragraph layout for every kind
      OdfWriter.generate(kind, paragraphize(t), ((id / 3) % 3).toInt)
    },

    // ODF TEMPLATE kinds (.ott/.otp/.ots) and StarOffice .sxw — whitelisted
    // inputs sharing the content.xml grammar: templates differ only in
    // mimetype, sxw carries the legacy OOo-1.x namespace URIs. Variants 0-2
    // preserve the paragraph layout for every kind (as in extract_odf).
    identityQuery("extract_odf_templates",
        "CASE doc_id % 4 WHEN 0 THEN 'ott' WHEN 1 THEN 'otp' WHEN 2 THEN 'ots' ELSE 'sxw' END") {
      (id, t) =>
        val kind = Seq("ott", "otp", "ots", "sxw")((id % 4).toInt)
        OdfWriter.generate(kind, paragraphize(t), ((id / 4) % 3).toInt)
    },

    // flat-ODF single-file XML (.fodt/.fodp/.fods) — same content grammar,
    // no zip; variant 2 omits office:mimetype to hit the body-element
    // fallback. Byte-identity vs the source document, like extract_odf.
    identityQuery("extract_fodf",
        "CASE doc_id % 3 WHEN 0 THEN 'fodt' WHEN 1 THEN 'fodp' ELSE 'fods' END") { (id, t) =>
      val kind = Seq("odt", "odp", "ods")((id % 3).toInt)
      OdfWriter.generateFlat(kind, paragraphize(t), ((id / 3) % 3).toInt)
    },

    // EPUB with real OPF-spine ordering — variant 4's chapter files are
    // publisher-named DESCENDING, so only parsing content.opf's <spine>
    // (not any filename convention) reproduces the document
    identityQuery("extract_epub", "'epub'") { (id, t) =>
      EpubWriter.generate(paragraphize(t), (id % EpubWriter.numVariants).toInt)
    },

    // Legacy binary Office (.doc/.xls/.ppt in CFB): real piece-table /
    // BIFF8 / record-tree kernels — per-document byte-identity like the
    // OOXML family
    identityQuery("extract_doc", "'doc'") { (id, t) =>
      DocWriter.generate(paragraphize(t), (id % DocWriter.numVariants).toInt)
    },
    identityQuery("extract_xls", "'xls'") { (id, t) =>
      // variants 0 (latin shared strings), 2 (wide) and 3 (SST split
      // across Continue records): the paragraph-per-row layouts that
      // reproduce the source verbatim
      val vv = XlsWriter.verbatimVariants
      XlsWriter.generate(paragraphize(t), vv((id % vv.length).toInt))
    },
    identityQuery("extract_ppt", "'ppt'") { (id, t) =>
      PptWriter.generate(paragraphize(t), (id % PptWriter.numVariants).toInt)
    },
    identityQuery("extract_pub", "'pub'") { (id, t) =>
      PubWriter.generate(paragraphize(t), (id % PubWriter.numVariants).toInt)
    },

    // Dispatch containment: HOLLOW legacy CFB containers (marker stream
    // only / bare / a Quill-less Publisher shell) must yield EXPLICIT
    // failure rows with the refined kind — never a mojibake success —
    // while flat-ODF and txt payloads extract.
    // (Well-formed doc/xls/ppt/pub succeed:
    // extract_doc/extract_xls/extract_ppt/extract_pub.)
    Query("extract_dispatch", "SELECT doc_id, CASE doc_id % 9 WHEN 0 THEN 'doc' WHEN 1 THEN 'xls' " +
        "WHEN 2 THEN 'ppt' WHEN 3 THEN 'cfb' WHEN 4 THEN 'fodt' WHEN 5 THEN 'pub' " +
        "WHEN 8 THEN 'gz' ELSE 'txt' END AS format_from, " +
        "(doc_id % 9 IN (4, 6, 7)) AS success, " +
        "CASE WHEN doc_id % 9 IN (4, 6, 7) THEN text ELSE '' END AS text, " +
        "(doc_id % 9 NOT IN (4, 6, 7)) AS has_error " +
        "FROM documents ORDER BY doc_id") { (s, dir) =>
      extractEach(s, dir, withError = true) { (id, t) =>
        (id % 9) match {
          case 0 => CfbWriter.generate("doc")
          case 1 => CfbWriter.generate("xls")
          case 2 => CfbWriter.generate("ppt")
          case 3 => CfbWriter.generate("raw")
          case 4 => OdfWriter.generateFlat("odt", paragraphize(t), 0)
          case 5 => CfbWriter.generate("pub")
          case 6 => t.getBytes(UTF_8)
          case 7 => // gzip transport wrapper: transparently inflated
            graft.fixtures.Corpus.gzipBytes(t.getBytes(UTF_8))
          case _ => // gzip magic with a corrupt body: failure, not garbage
            Array[Byte](0x1f.toByte, 0x8b.toByte, 8) ++ "not really deflate".getBytes(UTF_8)
        }
      }
    },

    // Production serialize surface over the reference's OUTPUT whitelist
    // (document_converters.py:22-26): text -> target-format bytes for all
    // 16 formats, then back through the REAL sniff+extract dispatch —
    // extract(serialize(text, fmt)) must reproduce the document
    // byte-identically (csv via the declared csvToText inverse)
    Query("serialize_roundtrip", "SELECT doc_id, CASE doc_id % 16 " +
        "WHEN 0 THEN 'pdf' WHEN 1 THEN 'txt' WHEN 2 THEN 'rtf' " +
        "WHEN 3 THEN 'doc' WHEN 4 THEN 'docx' WHEN 5 THEN 'odt' " +
        "WHEN 6 THEN 'html' WHEN 7 THEN 'xml' WHEN 8 THEN 'xls' " +
        "WHEN 9 THEN 'xlsx' WHEN 10 THEN 'ods' WHEN 11 THEN 'csv' " +
        "WHEN 12 THEN 'ppt' WHEN 13 THEN 'pptx' WHEN 14 THEN 'odp' " +
        "ELSE 'epub' END AS fmt, " +
        "TRUE AS identical, text FROM documents ORDER BY doc_id") { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val fmt = Serialize.outputFormats((id % Serialize.outputFormats.length).toInt)
          val golden = graft.fixtures.HtmlTemplates.golden(t)
          val bytes = Serialize.serialize(golden, fmt)
          val extracted = Extractor.extractByFormat(Extractor.sniffFormat(bytes), bytes)._2
          val recovered = if (fmt == "csv") Serialize.csvToText(extracted) else extracted
          (id, fmt, recovered == golden, recovered.replace('\n', ' '))
        }.toDF("doc_id", "fmt", "identical", "text")
        .orderBy("doc_id")
    }
  )
}
