package perfbench

import java.io.ByteArrayInputStream

import graft.extract.Extractor
import graft.extract.html.{BlockBuilder, Charsets, Classifier, HtmlTokenizer}
import graft.model.WebPage
import graft.sources.WarcSource

/** Single-threaded timings of the kernels on a fixed sample of a workload's
  * own payloads, run after the Spark passes have warmed the JIT. Each probe
  * loops over its sample until `budgetS` has passed. */
object Kernels {

  val formats: Seq[String] = Seq("html", "html_gz", "pdf", "docx", "pptx", "xlsx", "odt",
    "odp", "ods", "rtf", "doc", "xls", "ppt", "epub")

  final case class Probe(calls: Long, bytes: Long, seconds: Double, allocBytes: Long) {
    def mbPerS: Double = bytes / 1e6 / seconds
    def nsPerCall: Double = seconds * 1e9 / calls
    def nsPerKb: Double = seconds * 1e9 / (bytes / 1024.0)
    def allocPerCall: Double = allocBytes.toDouble / calls
  }

  /** Runs `f` over `items` round-robin (one untimed lap first) for at least
    * `budgetS` seconds; `size` gives each item's input bytes. */
  def probe[A](items: IndexedSeq[A], size: A => Long, budgetS: Double)(f: A => Any): Probe = {
    items.foreach(f)
    var calls = 0L; var bytes = 0L
    val a0 = Alloc.thread
    val t0 = System.nanoTime()
    val deadline = t0 + (budgetS * 1e9).toLong
    var sink = 0
    while (calls < items.size || System.nanoTime() < deadline) {
      val x = items((calls % items.size).toInt)
      sink ^= System.identityHashCode(f(x))
      calls += 1; bytes += size(x)
    }
    val t1 = System.nanoTime()
    if (sink == 42) System.err.print("")
    Probe(calls, bytes, (t1 - t0) / 1e9, Alloc.thread - a0)
  }

  /** Per-format kernel probes through `Extractor.extractOne`; formats absent
    * from the sample are left out. */
  def byFormat(sample: Map[String, IndexedSeq[WebPage]], budgetS: Double): Map[String, Probe] =
    sample.map { case (fmt, pages) =>
      fmt -> probe[WebPage](pages, _.html.length.toLong, budgetS)(p => Extractor.extractOne(p, 0))
    }

  /** The HTML kernel stage by stage, each stage fed the previous stage's
    * output prepared outside its timing. */
  def htmlStages(payloads: IndexedSeq[Array[Byte]], budgetS: Double): Map[String, Probe] = {
    val strings = payloads.map(Charsets.decode)
    val tokens = strings.map(s => HtmlTokenizer.tokenize(s).toVector)
    val blocks = tokens.map(t => BlockBuilder.build(t.iterator))
    val kb = payloads.map(_.length.toLong)
    val idx = payloads.indices
    Map(
      "decode" -> probe[Int](idx, kb, budgetS)(i => Charsets.decode(payloads(i))),
      "tokenize" -> probe[Int](idx, kb, budgetS) { i =>
        val it = HtmlTokenizer.tokenize(strings(i)); var n = 0
        while (it.hasNext) { it.next(); n += 1 }
        n
      },
      "blocks" -> probe[Int](idx, kb, budgetS)(i => BlockBuilder.build(tokens(i).iterator)),
      "classify" -> probe[Int](idx, kb, budgetS)(i => Classifier.extractText(blocks(i))))
  }

  def sniff(payloads: IndexedSeq[Array[Byte]], budgetS: Double): Probe =
    probe[Array[Byte]](payloads, _.length.toLong, budgetS)(Extractor.sniffFormat)

  /** `WarcSource.parseStream` over whole segments held in memory; returns the
    * probe and the number of segments whose parse threw. */
  def warcParse(segments: IndexedSeq[Array[Byte]], budgetS: Double): (Probe, Int) = {
    val (good, bad) = segments.partition { b =>
      try { WarcSource.parseStream(new ByteArrayInputStream(b)).foreach(_ => ()); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    val p = probe[Array[Byte]](good, _.length.toLong, budgetS) { b =>
      var n = 0
      WarcSource.parseStream(new ByteArrayInputStream(b)).foreach(_ => n += 1)
      n
    }
    (p, bad.size)
  }
}
