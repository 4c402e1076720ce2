package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.model.WebPage
import graft.sources.WarcSource

/** One generated document; `doc_id` drives the format wheel of
  * `Corpus.buildPage`. */
final case class GenDoc(doc_id: Long, text: String, lang: String, source: String, hot: Boolean)

/** What a workload is made of. `binaryOnly` keeps only the odd slots of the
  * format wheel; `hotHost` moves half the docs onto one host; `warc` frames
  * the pages as .warc/.warc.gz segments read through `format("warc")`. */
final case class Spec(name: String, replicas: Int, binaryOnly: Boolean,
                      hotHost: Boolean, warc: Boolean)

/** Seeded, deterministic workload generation.
  *
  * The base table has the shape of the gate corpus's documents table:
  * 10-100 words drawn from a 31-word vocabulary, five languages and twenty
  * sources. It is fixed; the seed only picks each replica's doc-id offset.
  * Offsets are multiples of 168 (the common period of the format wheel,
  * the HTML template and the HTML encoding rotations), so every seed yields
  * the same format, template and encoding mix, while urls, salts, bucket
  * hashes and the binary-writer variants move with the seed. */
object Workloads {

  val specs: Map[String, Spec] = Seq(
    Spec("crawl_mixed", replicas = 6, binaryOnly = false, hotHost = false, warc = false),
    Spec("office_hot_host", replicas = 2, binaryOnly = true, hotHost = true, warc = false),
    Spec("warc_resume", replicas = 4, binaryOnly = false, hotHost = false, warc = true),
  ).map(s => s.name -> s).toMap

  val baseDocs = 2016 // 12 x 168: whole periods of every fixture rotation
  val hotHost = "hot.example.org"
  val docsPerSegment = 252

  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  /** The fixed base table (its own constant seed, independent of `--seed`). */
  lazy val base: IndexedSeq[(String, String, String)] = {
    val rng = new java.util.Random(5000L)
    val langWheel = langs.flatMap { case (l, w) => Seq.fill(w)(l) }
    (0 until baseDocs).map { j =>
      val n = 10 + rng.nextInt(91)
      val text = Iterator.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
      (text, langWheel(rng.nextInt(langWheel.length)), s"src${j % 20}")
    }
  }

  /** Replica offsets picked by the seed: windows ~1M ids apart, never overlapping. */
  def offsets(spec: Spec, seed: Long): IndexedSeq[Long] = {
    val rng = new java.util.Random(seed * 7919L + spec.name.hashCode)
    (0 until spec.replicas).map(i => 168L * (6000L * (i + 1) + rng.nextInt(5000)))
  }

  def size(spec: Spec): Int = spec.replicas * baseDocs

  /** Document `i` of the workload, given its replica offsets. */
  def doc(spec: Spec, offs: IndexedSeq[Long], i: Long): GenDoc = {
    val j = (i % baseDocs).toInt
    val off = offs((i / baseDocs).toInt)
    val (text, lang, source) = base(j)
    val id = if (spec.binaryOnly) off + 2L * j + 1 else off + j
    // blocks of 12 consecutive binary docs (one per kernel) alternate on
    // and off the hot host, so every format is half hot
    GenDoc(id, text, lang, source, spec.hotHost && (j / 12) % 2 == 0)
  }

  def docs(spec: Spec, seed: Long): IndexedSeq[GenDoc] = {
    val offs = offsets(spec, seed)
    (0L until size(spec)).map(doc(spec, offs, _))
  }

  def page(d: GenDoc): WebPage = {
    val p = Corpus.buildPage(Corpus.Doc(d.doc_id, d.text, d.lang, d.source, d.text.length.toLong),
      skewHost = false)
    if (d.hot) p.copy(url = s"https://$hotHost/${d.lang}/doc${d.doc_id}") else p
  }

  /** Kernel name of a page: the format wheel, with gzip-wrapped HTML apart. */
  def kernelOf(docId: Long): String = {
    val f = Corpus.formatOf(docId)
    if (f == "html" && docId % 6 == 0) "html_gz" else f
  }

  /** Write the workload's inputs under `dir`: `pages/` (the webpages parquet
    * table, golden text included) and, for WARC workloads, `warc/` segments
    * of [[docsPerSegment]] records, odd segments gzip'd per record. */
  def generate(spark: SparkSession, spec: Spec, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val offs = offsets(spec, seed)
    spark.range(0, size(spec), 1, 16).map(i => page(doc(spec, offs, i)))
      .write.mode("overwrite").parquet(s"$dir/pages")
    if (spec.warc) {
      val segDir = s"$dir/warc"
      Files.createDirectories(Paths.get(segDir))
      val segments = (size(spec) + docsPerSegment - 1) / docsPerSegment
      spark.range(0, segments, 1, 16).map { fileId =>
        val recs = (fileId * docsPerSegment until math.min((fileId + 1) * docsPerSegment, size(spec)))
          .map(i => page(doc(spec, offs, i))).map(p => (p.url, p.html))
        val gz = fileId % 2 == 1
        val bytes = WarcSource.buildBinaryFile(fileId, recs, gzipPerRecord = gz)
        val name = f"seg$fileId%05d.warc" + (if (gz) ".gz" else "")
        Files.write(Paths.get(segDir, name), bytes)
        fileId
      }.collect()
    }
  }

  def pages(spark: SparkSession, dir: String): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/pages").as[WebPage]
  }

  /** The WARC segments as webpages: payload bytes under their target urls. */
  def warcPages(spark: SparkSession, dir: String): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.format("warc").load(s"$dir/warc")
      .select(col("url"), to_timestamp(col("date")).as("warc_ts"), col("payload").as("html"),
        lit("").as("text"), lit("").as("lang"))
      .as[WebPage]
  }
}
