package graft.serialize

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

/** Deterministic zip packaging shared by the OOXML fixture writers
  * (DocxWriter / PptxWriter / XlsxWriter). */
object OoxmlZip {

  // fixed entry timestamp (local-time API: DOS-time conversion is
  // timezone-independent this way) — byte-deterministic archives
  private val entryTime = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

  def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** `s` cut every `n` chars, like `grouped(n)`, except that a cut that
    * would split a surrogate pair moves one char later: no run of a
    * mid-word split carries half a supplementary-plane character. */
  def fragments(s: String, n: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < s.length) {
      var end = math.min(i + n, s.length)
      if (end < s.length && Character.isLowSurrogate(s.charAt(end))) end += 1
      out += s.substring(i, end)
      i = end
    }
    out.result()
  }

  def write(entries: Seq[(String, String)], store: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val zip = new ZipOutputStream(out)
    zip.setMethod(if (store) ZipOutputStream.STORED else ZipOutputStream.DEFLATED)
    entries.foreach { case (name, content) =>
      val bytes = content.getBytes(StandardCharsets.UTF_8)
      val e = new ZipEntry(name)
      e.setTimeLocal(entryTime)
      if (store) {
        val crc = new CRC32(); crc.update(bytes)
        e.setMethod(ZipEntry.STORED)
        e.setSize(bytes.length.toLong)
        e.setCompressedSize(bytes.length.toLong)
        e.setCrc(crc.getValue)
      }
      zip.putNextEntry(e)
      zip.write(bytes)
      zip.closeEntry()
    }
    zip.finish()
    zip.close()
    out.toByteArray
  }
}
