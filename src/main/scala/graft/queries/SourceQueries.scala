package graft.queries

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.model.WebPage
import graft.pipeline.ExtractionPipeline
import graft.sources.WarcSource
import graft.sources.WarcSource.{buildBinaryFile, buildFile, docsPerFile}

import Shared._

/** WARC sources: the documents table written as synthetic WARC files
  * (`docsPerFile` pages per file, odd file ids gzip'd per record) and read
  * back by the parser, the `format("warc")` connector and the extraction
  * kernel; the oracle recomputes every parsed field from SQL. */
object SourceQueries {

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  /** Write-then-parse round trip over the documents table: each file is
    * built and re-parsed executor-locally, and every parsed field is
    * surfaced. The group-by-file shuffle stands in for production's
    * file-per-task read. */
  def roundTrip(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey { case (id, _) => id / docsPerFile }
      .flatMapGroups { (fileId, it) =>
        val pages = it.toSeq.sortBy(_._1)
        val bytes = buildFile(fileId, pages, gzipPerRecord = fileId % 2 == 1)
        WarcSource.parse(bytes).map { r =>
          val id = r.url.substring(r.url.lastIndexOf("doc") + 3).toLong
          (id, r.url, r.status, r.contentType,
            r.payload.length.toLong, md5Hex(r.payload))
        }.iterator
      }
      .toDF("doc_id", "url", "status", "mime", "payload_octets", "payload_md5")
  }

  /** Write the documents table as .warc(.gz) segment files into `dir` — the
    * on-disk fixture for the `format("warc")` read path. Segment writes happen
    * executor-side (local-mode shared FS); the O(numFiles) collect() only
    * barriers the writes before a load() can plan over them. */
  private def segmentsToDisk(docs: DataFrame, dir: String): String = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / docsPerFile)
      .mapGroups { (fileId, it) =>
        val pages = it.toSeq.sortBy(_._1)
        val gz = fileId % 2 == 1
        val bytes = buildFile(fileId, pages, gzipPerRecord = gz)
        val name = f"seg$fileId%05d.warc" + (if (gz) ".gz" else "")
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
        fileId
      }.collect()
    dir
  }

  /** The crawl ingest shape end to end: corpus pages → .warc(.gz) segments
    * holding the real format-wheel payloads → parse → the pipeline's
    * extraction kernel → per-format rollup. */
  private def extractionRollup(pages: Dataset[WebPage]): DataFrame = {
    val s = pages.sparkSession
    import s.implicits._
    val parsed = pages
      .map(p => (p.url.substring(p.url.lastIndexOf("doc") + 3).toLong, p.url, p.html))
      .groupByKey(_._1 / docsPerFile)
      .flatMapGroups { (fileId, it) =>
        val recs = it.toSeq.sortBy(_._1)
        val bytes = buildBinaryFile(fileId,
          recs.map(r => (r._2, r._3)), gzipPerRecord = fileId % 2 == 1)
        WarcSource.parseStream(new ByteArrayInputStream(bytes)).map { r =>
          WebPage(r.url, new java.sql.Timestamp(0), r.payload, "", "")
        }
      }
    formatRollup(ExtractionPipeline.kernel(parsed).toDF())
  }

  /** Every field of a synthetic WARC response record, recomputed. */
  private val recordSql: String =
    "SELECT doc_id, 'https://example.com/doc' || CAST(doc_id AS VARCHAR) AS url, " +
      "CAST(200 AS INT) AS status, 'text/plain; charset=utf-8' AS mime, " +
      "CAST(strlen(text) AS BIGINT) AS payload_octets, md5(text) AS payload_md5 " +
      "FROM documents ORDER BY doc_id"

  val all: Seq[Query] = Seq(
    // write → parse round trip over grouped pages
    Query("src_warc_roundtrip", recordSql) { (s, dir) =>
      roundTrip(docs(s, dir)).orderBy("doc_id")
    },

    // The same round trip through the file-format read surface: segments
    // written to disk, read back via spark.read.format("warc") — shares
    // src_warc_roundtrip's oracle (the format must surface exactly what
    // the parser does).
    Query("src_warc_dsv2", recordSql) { (s, dir) =>
      val seg = segmentsToDisk(docs(s, dir), freshScratchDir("graft_q_warc", dir))
      s.read.format("warc").load(seg)
        .select(
          regexp_extract(col("url"), "doc([0-9]+)$", 1).cast("bigint").as("doc_id"),
          col("url"), col("status"), col("content_type").as("mime"),
          length(col("payload")).cast("bigint").as("payload_octets"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    },

    // The Common-Crawl ingest shape over the REAL format-wheel corpus; the
    // WARC leg is byte-transparent so the per-format rollup must equal
    // extract_metrics (the two queries share the oracle SQL).
    Query("src_warc_extract", formatRollupSql) { (s, dir) =>
      extractionRollup(Corpus.materialize(s, dir))
    }
  )
}
