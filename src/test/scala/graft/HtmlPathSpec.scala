package graft

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.html.{Charsets, HtmlExtractor, TextBlock}
import graft.fixtures.Corpus

/** Reference versions of the HTML path's byte handling, kept as the spec the
  * in-place versions must match: decoding through a strict `CharsetDecoder`
  * at every step, and gunzip through a fixed buffer and a growing stream. */
object HtmlPathReference {

  def decode(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte && bytes(2) == 0xbf.toByte)
      return strict(bytes, 3, StandardCharsets.UTF_8)
        .getOrElse(new String(bytes, 3, n - 3, StandardCharsets.ISO_8859_1))
    if (n >= 2 && bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte)
      return new String(bytes, 2, n - 2, StandardCharsets.UTF_16LE)
    if (n >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
      return new String(bytes, 2, n - 2, StandardCharsets.UTF_16BE)
    val declared = metaCharset(bytes).flatMap { cs =>
      strict(bytes, 0, if (cs.name.toLowerCase.startsWith("utf-16")) StandardCharsets.UTF_8 else cs)
    }
    declared
      .orElse(strict(bytes, 0, StandardCharsets.UTF_8))
      .getOrElse(new String(bytes, StandardCharsets.ISO_8859_1))
  }

  private def metaCharset(bytes: Array[Byte]): Option[Charset] = {
    val head = new String(bytes, 0, math.min(bytes.length, 1024), StandardCharsets.ISO_8859_1).toLowerCase
    val k = head.indexOf("charset=")
    if (k < 0) return None
    var i = k + "charset=".length
    while (i < head.length && "\"' ".contains(head.charAt(i))) i += 1
    val start = i
    while (i < head.length && !"\"' ;/>".contains(head.charAt(i))) i += 1
    val name = head.substring(start, i).trim
    if (name.isEmpty) None
    else try Some(Charset.forName(name)) catch { case _: Exception => None }
  }

  private def strict(bytes: Array[Byte], offset: Int, cs: Charset): Option[String] =
    try Some(cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(bytes, offset, bytes.length - offset)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0) {
        out.write(buf, 0, n)
        require(out.size <= Extractor.maxPayloadBytes,
          s"gzip payload expands past cap ${Extractor.maxPayloadBytes}")
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }
}

object HtmlPathSpec {
  final case class Golden(name: String, html: String, blocks: Seq[TextBlock], text: String)
}

/** The HTML path's edge cases pinned as literals, and its in-place charset
  * decode and pre-sized gunzip checked against [[HtmlPathReference]]. */
class HtmlPathSpec extends AnyFunSuite {
  import HtmlPathSpec.Golden

  // Expected blocks and text as the tokenizer that built substrings and
  // attribute lists produced them.
  private val goldens = Seq(
    Golden("quoted > inside attribute values",
      """<div><p title="a > b" data-x='c>d'>alpha beta <a href="/x?q=1>2" title='>'>gamma</a> delta</p></div>""",
      Seq(TextBlock("alpha beta gamma delta", 4, 1)),
      "alpha beta gamma delta"),
    Golden("unquoted attributes",
      """<div class=main id=x data-v=a/b><p class=lead>one two<img src=pic.png alt=x>three <br/>four<p =odd>five</div>""",
      Seq(TextBlock("one twothree", 2, 0), TextBlock("four", 1, 0), TextBlock("five", 1, 0)),
      "one twothree"),
    Golden("upper- and mixed-case tags",
      """<HTML><BODY><DiV>Upper <B>bold</b> text</dIv><SCRIPT>var s = "</p>";</SCRIPT >after<P>Next Para</P><StYlE>p{}</sTyLe>tail</BODY></HTML>""",
      Seq(TextBlock("Upper bold text", 3, 0), TextBlock("after", 1, 0),
        TextBlock("Next Para", 2, 0), TextBlock("tail", 1, 0)),
      "Upper bold text"),
    Golden("unknown and custom tags",
      """<p>alpha <my-widget foo=bar>custom</my-widget> <x:tag>ns</x:tag> <blink>old</blink> <verylongcustomtagname>long</VERYLONGCUSTOMTAGNAME> omega</p><Section2>s2</Section2><NAV2>kept</NAV2>""",
      Seq(TextBlock("alpha custom ns old long omega", 6, 0), TextBlock("s2kept", 1, 0)),
      "s2kept"),
    Golden("self-closing and nested anchors",
      """<p>before <a/> after <a href=1>one <a href=2>two</a> three</a> four</p><p>x <a href=3/>y</a> z</p><p><a>lone</a></a></a> open</p>""",
      Seq(TextBlock("before after one two three four", 6, 3), TextBlock("x y z", 3, 1),
        TextBlock("lone open", 2, 1)),
      ""),
    Golden("entities in text and in attributes",
      """<p title="&lt;b&gt; &amp;" alt='&quot;'>caf&eacute; &amp; &lt;tag&gt; &#65;&#x42;&#X43; &copy;&nbsp;x &unknown; &amp no-semi &#xZZ; &#99999999999; &#+66; &Eacute;&EACUTE; &#128512; &#x110000; &#; &#x; &amp;amp; &lt</p>""",
      Seq(TextBlock("café & <tag> ABC © x &unknown; &amp no-semi &#xZZ; &#99999999999; B É&EACUTE; 😀 &#x110000; &#; &#x; &amp; &lt", 19, 0)),
      "café & <tag> ABC © x &unknown; &amp no-semi &#xZZ; &#99999999999; B É&EACUTE; 😀 &#x110000; &#; &#x; &amp; &lt"),
    Golden("NBSP and zero-width whitespace",
      "<p>a\u00a0b\u200bc\u2009d\u2002e\u2003f\u00adg\ufeffh &nbsp; i&#8203;j &zwnj;k\u200cl &shy;m&thinsp;n</p>",
      Seq(TextBlock("a b c d e f g h i j \u200ck\u200cl m n", 13, 0)),
      "a b c d e f g h i j \u200ck\u200cl m n"),
    Golden("comments and CDATA",
      """<p>keep<!-- <p>drop</p> -->this<![CDATA[ hidden <b>x</b> ]]>text<!----> <!--x--y--> end</p><p>tail <!-- unterminated <p>lost""",
      Seq(TextBlock("keepthistext end", 2, 0), TextBlock("tail", 1, 0)),
      "keepthistext end"),
    Golden("bare < at end of input",
      """<p>a < b <3 c <""",
      Seq(TextBlock("a < b <3 c <", 6, 0)),
      "a < b <3 c <"),
    Golden("bogus markup",
      """<!DOCTYPE html><?xml version="1.0"?><p>one </ 3> two </> three <!bogus> four</p><p>five <![CDATA[ unterminated""",
      Seq(TextBlock("one two three four", 4, 0), TextBlock("five", 1, 0)),
      "one two three four"),
    Golden("raw text until end of input",
      """<p>shown</p><script>var x = "<p>never closed</p>";""",
      Seq(TextBlock("shown", 1, 0)),
      "shown"),
    Golden("ignored subtrees and stray close tags",
      """</div></p><nav><p>menu</nav>body <aside>side<p>more</aside>text</span></a><form><input>field</form>done""",
      Seq(TextBlock("body", 1, 0), TextBlock("text", 1, 0), TextBlock("done", 1, 0)),
      "body"))

  for (g <- goldens) test(s"html golden: ${g.name}") {
    val bytes = g.html.getBytes(StandardCharsets.UTF_8)
    assert(HtmlExtractor.blocks(bytes) == g.blocks)
    assert(HtmlExtractor.extract(bytes) == g.text)
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
  private def withMeta(charset: String, body: Array[Byte]) =
    utf8(s"""<html><head><meta charset="$charset"></head><body><p>""") ++ body ++ utf8("</p></body></html>")

  test("charset decode matches the strict-decoder reference across BOMs, metas and malformed bytes") {
    val text = "naïve café 中文 😀"
    val cases = Seq(
      "utf-8 BOM" -> (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ withMeta("utf-8", utf8(text))),
      "utf-8 BOM over invalid bytes" -> (Array(0xef, 0xbb, 0xbf, 0x61, 0xff, 0x62).map(_.toByte)),
      "utf-16le BOM" -> (Array(0xff, 0xfe).map(_.toByte) ++ s"<p>$text</p>".getBytes(StandardCharsets.UTF_16LE)),
      "utf-16be BOM" -> (Array(0xfe, 0xff).map(_.toByte) ++ s"<p>$text</p>".getBytes(StandardCharsets.UTF_16BE)),
      "lying us-ascii meta" -> withMeta("us-ascii", utf8(text)),
      "honest us-ascii meta" -> withMeta("US-ASCII", utf8("plain")),
      "iso-8859-1 meta" -> withMeta("iso-8859-1", "café ÿ".getBytes(StandardCharsets.ISO_8859_1)),
      "windows-1252 meta, mapped bytes" -> withMeta("windows-1252", Array(0x80, 0x93, 0x94).map(_.toByte)),
      "windows-1252 meta, unmapped byte" -> withMeta("windows-1252", Array(0x80, 0x81, 0x61).map(_.toByte)),
      "iso-2022-jp meta" -> withMeta("iso-2022-jp", "日本語".getBytes("ISO-2022-JP")),
      "utf-16 meta over utf-8 bytes" -> withMeta("utf-16", utf8(text)),
      "utf-16le meta over utf-8 bytes" -> withMeta("UTF-16LE", utf8(text)),
      "unknown and illegal metas" -> (withMeta("x-no-such", utf8(text)) ++ withMeta("bad name!", utf8(text))),
      "quoted, padded, upper-case meta" -> utf8("<META HTTP-EQUIV=x CONTENT='text/html; CHARSET= \"Latin1\" '>café"),
      "empty meta name" -> utf8("<meta charset=\"\"><p>x"),
      "malformed utf-8" -> Array(0x61, 0xc3, 0x28, 0xe2, 0x82, 0xed, 0xa0, 0x80, 0xc0, 0x80, 0xf4, 0x90, 0x80, 0x80).map(_.toByte),
      "truncated utf-8 tail" -> (utf8(text) ++ Array(0xe4, 0xb8).map(_.toByte)),
      "valid utf-8 containing U+FFFD" -> withMeta("utf-8", utf8("a \ufffd b")),
      "U+FFFD without a meta" -> utf8("\ufffd\ufffd"),
      "U+FFFD next to a malformed byte" -> (utf8("\ufffd") ++ Array(0xff.toByte)),
      "empty" -> Array.emptyByteArray,
      "lone BOM bytes" -> Array(0xef, 0xbb).map(_.toByte))
    for ((name, bytes) <- cases)
      assert(Charsets.decode(bytes) == HtmlPathReference.decode(bytes), name)
  }

  private def gz(b: Array[Byte]): Array[Byte] = Corpus.gzipBytes(b)

  /** The trailer's ISIZE field replaced by `isize`. */
  private def withIsize(g: Array[Byte], isize: Long): Array[Byte] = {
    val out = g.clone()
    for (k <- 0 until 4) out(out.length - 4 + k) = (isize >>> (8 * k)).toByte
    out
  }

  private def outcome(f: => Array[Byte]): Either[String, Seq[Byte]] =
    try Right(f.toSeq) catch { case e: Exception => Left(e.getClass.getName + ": " + e.getMessage) }

  test("gunzip gives the reference's bytes or error for multi-member, odd ISIZE, truncated and over-cap input") {
    val page = utf8("<html><body>" + (0 until 400).map(i => s"<p>para $i</p>").mkString + "</body></html>")
    val zeros = new Array[Byte](3 << 20) // compresses ~1000:1, past the trusted hint ratio
    val single = gz(page)
    val cases = Seq(
      "single member" -> single,
      "multi-member, short last member (ISIZE too small)" -> (gz(page) ++ gz(utf8("tail"))),
      "multi-member, empty last member (ISIZE 0)" -> (gz(page) ++ gz(Array.emptyByteArray)),
      "empty payload (ISIZE 0)" -> gz(Array.emptyByteArray),
      "highly compressible (ISIZE past the hint bound)" -> gz(zeros),
      "ISIZE patched to 0" -> withIsize(single, 0),
      "ISIZE patched too small" -> withIsize(single, 10),
      "ISIZE patched too large" -> withIsize(single, page.length + 1000L),
      "ISIZE patched past the cap" -> withIsize(single, 0xffffffffL),
      "trailing garbage" -> (single ++ utf8("garbage")),
      "truncated in the deflate data" -> single.take(single.length / 2),
      "truncated in the trailer" -> single.take(single.length - 3),
      "truncated header" -> single.take(5),
      "corrupt deflate data" -> single.updated(12, 0xff.toByte))
    for ((name, bytes) <- cases) {
      val want = outcome(HtmlPathReference.gunzip(bytes))
      assert(outcome(Extractor.gunzip(bytes)) == want, name)
    }
    // over the cap: 70 MiB of zeros
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 16)
      for (_ <- 0 until 70 * 16) g.write(chunk)
      g.close()
      bos.toByteArray
    }
    val e = intercept[IllegalArgumentException](Extractor.gunzip(bomb))
    val e0 = intercept[IllegalArgumentException](HtmlPathReference.gunzip(bomb))
    assert(e.getMessage == e0.getMessage)
  }

  test("gunzip sizes its output from ISIZE only up to a bounded ratio: a tiny payload claiming 64 MiB allocates < 1 MiB") {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val lying = withIsize(gz(utf8("<p>tiny</p>")), 64L << 20)
    def run(): Unit = intercept[java.util.zip.ZipException](Extractor.gunzip(lying))
    run() // load classes outside the measurement
    val before = mx.getCurrentThreadAllocatedBytes
    run()
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(allocated < (1L << 20), s"allocated $allocated bytes")
  }
}
