package graft.queries

import org.apache.spark.sql.functions._

import Shared._

/** The scalar-function surface (S4/P5/F5-F7/F9-F11). */
object FunctionQueries {

  val all: Seq[Query] = Seq(
    // One row per document exercising ext-normalize, kernel routing, the
    // whitelist predicate, bytes-readable (three /1024 rungs), the binary
    // probe (even rows valid UTF-8, odd rows carry a 0xFF byte), magic-byte
    // mime and ISO timestamps; the oracle recomputes every column in SQL.
    Query("fn_surface", "SELECT doc_id, " +
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
        "FROM documents ORDER BY doc_id") { (s, dir) =>
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
    },

    // S4 formats catalog as rows (the GET /api/formats analog)
    Query("fn_formats", "SELECT direction, ext FROM (VALUES ('input', '.txt'), ('input', '.rtf'), " +
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
        "ORDER BY direction, ext") { (s, dir) =>
      import s.implicits._
      graft.functions.DocFunctions.supportedFormats.toSeq
        .flatMap { case (direction, exts) => exts.map(direction -> _) }
        .toDF("direction", "ext")
        .orderBy("direction", "ext")
    },

    // F10 content-refined mime: real container payloads (OOXML / ODF / EPUB
    // / CFB / pdf / plain) must each report their own mime — the PK magic
    // alone is ambiguous, refinement reads the package
    Query("fn_mime", "SELECT doc_id, CASE doc_id % 8 " +
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
        "FROM documents ORDER BY doc_id") { (s, dir) =>
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
    }
  )
}
