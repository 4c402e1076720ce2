package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DocFunctions

/** Scalar-function surface (SURVEY §2.6) + SQL registration (§2.9). */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bytesReadable matches the reference's /1024 ladder with 2 decimals") {
    // base_converter.py:61-67
    val in = Seq(0L, 512L, 1024L, 1536L, 1048576L, 5L * 1024 * 1024 * 1024)
    val out = in.toDF("n").select(DocFunctions.bytesReadable(col("n")).as("s"))
      .as[String].collect().toSeq
    assert(out == Seq("0.00 B", "512.00 B", "1.00 KB", "1.50 KB", "1.00 MB", "5.00 GB"))
  }

  test("normalizeExt + kernelFor: lowercase, dot-prefix, default ext-minus-dot") {
    val in = Seq("PDF", ".HTML", "htm", ".txt", "epub")
    val out = in.toDF("e").select(
        DocFunctions.normalizeExt(col("e")).as("n"),
        DocFunctions.kernelFor(col("e")).as("k"))
      .as[(String, String)].collect().toSeq
    assert(out == Seq((".pdf", "pdf"), (".html", "html"), (".htm", "html"),
      (".txt", "txt"), (".epub", "epub")))
  }

  test("format whitelist predicate gates like the reference") {
    val out = Seq("docx", ".csv", ".exe", "HTML").toDF("e")
      .select(DocFunctions.isSupported(col("e"), "input").as("ok"))
      .as[Boolean].collect().toSeq
    assert(out == Seq(true, true, false, true))
  }

  test("isBinaryBytes: utf-8 text false, invalid bytes true, cut multibyte at probe edge false") {
    assert(!DocFunctions.isBinaryBytes("plain ascii".getBytes(StandardCharsets.UTF_8)))
    assert(!DocFunctions.isBinaryBytes("中文 text".getBytes(StandardCharsets.UTF_8)))
    assert(DocFunctions.isBinaryBytes(Array[Byte](0x41, 0x80.toByte, 0x42)))
    assert(!DocFunctions.isBinaryBytes(Array.emptyByteArray))
    assert(!DocFunctions.isBinaryBytes(null))
    // 1022 ascii bytes + first 2 bytes of a 3-byte char: underflow, not binary
    val cut = ("a" * 1022).getBytes(StandardCharsets.UTF_8) ++
      "中".getBytes(StandardCharsets.UTF_8).take(2) ++ "rest".getBytes
    assert(!DocFunctions.isBinaryBytes(cut))
  }

  test("mimeGuess + isoTimestamp columns") {
    val rows = Seq(
      ("u1", "%PDF-1.4 x".getBytes(StandardCharsets.ISO_8859_1)),
      ("u2", "<html><body>x</body></html>".getBytes(StandardCharsets.UTF_8)),
      ("u3", Array[Byte](1, 2, 3)))
      .toDF("url", "html").withColumn("warc_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val out = rows.select(DocFunctions.mimeGuess(col("html")), DocFunctions.isoTimestamp(col("warc_ts")))
      .as[(String, String)].collect().toSeq
    assert(out.map(_._1) == Seq("application/pdf", "text/html", "application/octet-stream"))
    assert(out.head._2 == "2024-01-01T00:00:00.000000")
  }

  test("SQL surface: registered kernels work end-to-end from spark.sql") {
    DocFunctions.register(spark)
    val page = graft.fixtures.Corpus.materialize(spark, "/root/testdata/sf0.001").limit(50)
    page.createOrReplaceTempView("webpages_sql")
    val bad = spark.sql(
      """SELECT url FROM webpages_sql
        |WHERE graft_extract(html) != text OR graft_sniff_format(html) NOT IN ('html','pdf','docx','rtf','doc','xls','ppt','gz')
        |""".stripMargin).count()
    assert(bad == 0)
    val lang = spark.sql("SELECT graft_lang_id('the quick brown fox jumps over the lazy dog and this is english')").head().getString(0)
    assert(lang == "en")
    // refined kind: content-level dispatch from SQL
    Seq(
      graft.serialize.PptxWriter.generate(Vector("some slide words"), 0) -> "pptx",
      graft.serialize.OdfWriter.generate("ods", Vector("cell words"), 0) -> "ods",
      graft.serialize.RtfWriter.generate(Vector("rtf words"), 0) -> "rtf"
    ).foreach { case (bytes, want) =>
      val df = spark.createDataFrame(Seq(Tuple1(bytes))).toDF("b")
      df.createOrReplaceTempView("kind_probe")
      assert(spark.sql("SELECT graft_extract_kind(b) FROM kind_probe").head().getString(0) == want)
    }
    val sh = spark.sql("SELECT graft_simhash64('a b c'), graft_rolling_fp('a b c d e f g h i j')").head()
    assert(sh.getLong(0) == graft.dedup.Dedup.simhash64("a b c"))
  }
}
