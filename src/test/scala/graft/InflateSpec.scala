package graft

import java.io.ByteArrayOutputStream
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.model.{ExtractionResult, WebPage}
import graft.serialize.PdfWriter
import graft.util.Inflate

/** The bounded inflate every DEFLATE stream goes through: its two entry
  * points, and the caps as the kernels report them (named failure rows). */
class InflateSpec extends AnyFunSuite {

  private val cap = Inflate.maxStreamBytes

  private def extract(bytes: Array[Byte]): ExtractionResult =
    Extractor.extractOne(WebPage("u", new java.sql.Timestamp(0), bytes, "", "en"), 0)

  /** zlib-compresses `zeros` zero bytes then `data`, under an optional preset
    * dictionary. */
  private def zlib(data: Array[Byte], dictionary: Array[Byte] = null, zeros: Long = 0L): Array[Byte] = {
    val d = new Deflater()
    if (dictionary != null) d.setDictionary(dictionary)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    def drain(): Unit = while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
    val chunk = new Array[Byte](1 << 20)
    var left = zeros
    while (left > 0) {
      d.setInput(chunk, 0, math.min(left, chunk.length.toLong).toInt)
      drain()
      left -= chunk.length
    }
    d.setInput(data)
    drain()
    d.finish()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A one-page PDF whose single content stream is the Flate body `body`. */
  private def flatePdf(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(s"%PDF-1.4\n1 0 obj\n<< /Length ${body.length} /Filter /FlateDecode >>\nstream\n"
      .getBytes(ISO_8859_1))
    out.write(body)
    out.write("\nendstream\nendobj\ntrailer\n<< >>\n%%EOF\n".getBytes(ISO_8859_1))
    out.toByteArray
  }

  private val content = "BT /F1 12 Tf 50 700 Td (hello) Tj ET".getBytes(ISO_8859_1)

  test("a PDF whose Flate content stream inflates to 70 MiB is a failure row naming the cap, in bounded allocation") {
    val bomb = flatePdf(zlib(Array.emptyByteArray, zeros = 70L << 20))
    assert(bomb.length < (1 << 20), s"bomb is ${bomb.length} bytes")
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    extract(flatePdf(zlib(content))) // load classes outside the measurement
    val before = mx.getCurrentThreadAllocatedBytes
    val r = extract(bomb)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(!r.success)
    assert(r.error == s"IllegalArgumentException: requirement failed: PDF Flate stream expands past cap $cap", r.error)
    assert(allocated < 3L * cap, s"allocated $allocated bytes")
  }

  test("a DOCX whose word/document.xml inflates past 64 MiB is a failure row naming the part and the cap") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    zip.putNextEntry(new ZipEntry("word/document.xml"))
    val chunk = Array.fill[Byte](1 << 20)(' ')
    for (_ <- 0 until 65) zip.write(chunk)
    zip.write(' ')
    zip.closeEntry()
    zip.close()
    val r = extract(bos.toByteArray)
    assert(!r.success && r.format_from == "docx")
    assert(r.error == s"IllegalArgumentException: requirement failed: word/document.xml expands past cap $cap", r.error)
  }

  test("a zip part whose local header claims 60 MiB allocates < 1 MiB before it fails") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    val body = "<w:p><w:t>tiny</w:t></w:p>".getBytes(ISO_8859_1)
    val entry = new ZipEntry("word/document.xml")
    entry.setMethod(ZipEntry.STORED)
    entry.setSize(body.length.toLong)
    entry.setCompressedSize(body.length.toLong)
    val crc = new java.util.zip.CRC32
    crc.update(body)
    entry.setCrc(crc.getValue)
    zip.putNextEntry(entry)
    zip.write(body)
    zip.closeEntry()
    zip.close()
    val lying = bos.toByteArray
    for (at <- Seq(18, 22)) // local header: compressed size, then size
      java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(at, 60 << 20)
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    extract(lying) // load classes outside the measurement
    val before = mx.getCurrentThreadAllocatedBytes
    val r = extract(lying)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(!r.success, r.toString)
    assert(allocated < (1L << 20), s"allocated $allocated bytes")
  }

  test("grow fails by the document cap once earlier streams used it up, and reads a stream within it") {
    def hundred = new java.io.ByteArrayInputStream(Array.tabulate[Byte](100)(_.toByte))
    val e = intercept[IllegalArgumentException](
      Inflate.grow(hundred, 100, 100, Inflate.maxDocumentBytes - 50, "part.xml"))
    assert(e.getMessage ==
      s"requirement failed: part.xml expands past document cap ${Inflate.maxDocumentBytes} (${Inflate.maxDocumentBytes - 50} bytes before it)")
    assert(Inflate.grow(hundred, 100, 100, Inflate.maxDocumentBytes - 100, "part.xml").toSeq ==
      Array.tabulate[Byte](100)(_.toByte).toSeq)
    // a hint past the ratio or the output still yields the exact bytes
    assert(Inflate.grow(hundred, 1L << 40, 1, 0L, "part.xml").length == 100)
    assert(Inflate.grow(hundred, 0, 100, 0L, "part.xml").length == 100)
  }

  test("a PDF content stream compressed with a preset dictionary is a failure row, not an empty success") {
    val ok = extract(flatePdf(zlib(content)))
    assert(ok.success && ok.text == "hello", ok.toString)
    val r = extract(flatePdf(zlib(content, dictionary = "BT /F1 12 Tf".getBytes(ISO_8859_1))))
    assert(!r.success)
    assert(r.error.contains("PDF Flate stream truncated or needs a preset dictionary"), r.error)
  }

  test("raw zlib grow and fill ignore bytes after the stream, fail on truncation, and fill across split parts") {
    val data = Array.tabulate[Byte](5000)(i => (i * 7 % 251).toByte)
    val z = zlib(data)
    val padded = z ++ Array.fill[Byte](9)(0x55)
    assert(Inflate.grow(padded, 0, padded.length, 0L, "s").toSeq == data.toSeq)
    intercept[IllegalArgumentException](Inflate.grow(z, 0, z.length / 2, 0L, "s"))
    val out = new Array[Byte](data.length)
    val cut = z.length / 3
    Inflate.fill(padded, Iterator(0 -> 2, 2 -> 0, 2 -> (cut - 2), cut -> (padded.length - cut)), out, "s")
    assert(out.toSeq == data.toSeq)
    val short = intercept[IllegalArgumentException](
      Inflate.fill(z, Iterator(0 -> z.length), new Array[Byte](data.length + 1), "s"))
    assert(short.getMessage == s"requirement failed: s short: ${data.length} of ${data.length + 1}")
    val cutOff = intercept[IllegalArgumentException](
      Inflate.fill(z, Iterator(0 -> cut), new Array[Byte](data.length), "s"))
    assert(cutOff.getMessage == "requirement failed: s truncated or needs a preset dictionary")
  }

  test("raw DEFLATE growRaw ignores bytes after the stream, and a truncated stream leaves the next one intact") {
    val data = Array.tabulate[Byte](5000)(i => (i * 7 % 251).toByte)
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data)
    d.finish()
    val buf = new Array[Byte](8192)
    val raw = buf.take(d.deflate(buf))
    d.end()
    val padded = raw ++ Array.fill[Byte](9)(0x55)
    assert(Inflate.growRaw(padded, 0, padded.length, data.length, 0L, "p").toSeq == data.toSeq)
    val cut = intercept[IllegalArgumentException](Inflate.growRaw(raw, 0, raw.length / 2, data.length, 0L, "p"))
    assert(cut.getMessage == "requirement failed: p truncated or needs a preset dictionary")
    // a 1-byte hint still yields the exact bytes
    assert(Inflate.growRaw(raw, 0, raw.length, 1, 0L, "p").toSeq == data.toSeq)
  }

  test("a /Length past the Int or Long range falls back to the endstream scan and extracts the same text") {
    val paras = Seq("First paragraph of the stream.", "Second one, a little longer than the first.")
    for (v <- 0 until PdfWriter.numVariants; length <- Seq("2147483600", "9" * 25)) {
      val pdf = PdfWriter.generate(paras, v)
      val patched = new String(pdf, ISO_8859_1).replaceAll("/Length [0-9]+", s"/Length $length")
        .getBytes(ISO_8859_1)
      val want = extract(pdf)
      val got = extract(patched)
      assert(want.success, s"v$v ${want.error}")
      assert(got.success && got.text == want.text, s"v$v /Length $length: ${got.error}")
    }
  }
}
