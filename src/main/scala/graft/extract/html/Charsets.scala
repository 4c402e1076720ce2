package graft.extract.html

import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

/** Charset sniffing + decoding for web payloads.
  *
  * Precedence (documented, frozen for golden-fixture determinism — SURVEY §7.3):
  *   1. BOM (UTF-8 / UTF-16LE / UTF-16BE) — BOM bytes consumed;
  *   2. `charset=` in the first 1024 bytes (meta charset / http-equiv);
  *   3. strict UTF-8;
  *   4. ISO-8859-1 fallback (never fails).
  * A meta that lies (declares a charset under which the bytes don't decode)
  * falls through to steps 3-4. Mirrors is_binary probing by decode-attempt
  * in the reference (/root/reference/src/core/base_converter.py:80-87).
  *
  * UTF-8, US-ASCII and ISO-8859-1 build their `String` straight from the
  * bytes, with validity decided without exceptions; other charsets go
  * through a strict `CharsetDecoder`.
  */
object Charsets {

  def decode(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte && bytes(2) == 0xbf.toByte) {
      val s = strict(bytes, 3, StandardCharsets.UTF_8)
      return if (s != null) s else new String(bytes, 3, n - 3, StandardCharsets.ISO_8859_1)
    }
    if (n >= 2 && bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte)
      return new String(bytes, 2, n - 2, StandardCharsets.UTF_16LE)
    if (n >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
      return new String(bytes, 2, n - 2, StandardCharsets.UTF_16BE)

    val declared = sniffMetaCharset(bytes) match {
      // WHATWG rule: a meta-declared UTF-16 is treated as UTF-8 (a BOM-less
      // doc whose prelude is ASCII-readable cannot actually be UTF-16).
      case Some(cs) if cs.name.regionMatches(true, 0, "utf-16", 0, 6) =>
        strict(bytes, 0, StandardCharsets.UTF_8)
      case Some(cs) => strict(bytes, 0, cs)
      case None => null
    }
    if (declared != null) declared
    else {
      val s = strict(bytes, 0, StandardCharsets.UTF_8)
      if (s != null) s else new String(bytes, StandardCharsets.ISO_8859_1)
    }
  }

  private val charsetEq: Array[Byte] = "charset=".getBytes(StandardCharsets.US_ASCII)

  /** Scan the ASCII-compatible prelude, in place, for `charset=...`
    * (ASCII case-insensitive). */
  def sniffMetaCharset(bytes: Array[Byte]): Option[Charset] = {
    val limit = math.min(bytes.length, 1024)
    var k = 0
    var found = false
    while (!found && k <= limit - charsetEq.length) {
      var p = 0
      while (p < charsetEq.length && lowerAscii(bytes(k + p)) == charsetEq(p)) p += 1
      if (p == charsetEq.length) found = true else k += 1
    }
    if (!found) return None
    var i = k + charsetEq.length
    while (i < limit && (bytes(i) == '"' || bytes(i) == '\'' || bytes(i) == ' ')) i += 1
    var start = i
    while (i < limit && "\"' ;/>".indexOf(bytes(i)) < 0) i += 1
    while (start < i && (bytes(start) & 0xff) <= ' ') start += 1
    while (i > start && (bytes(i - 1) & 0xff) <= ' ') i -= 1
    if (i == start) None
    else
      try Some(Charset.forName(new String(bytes, start, i - start, StandardCharsets.ISO_8859_1)))
      catch { case _: Exception => None }
  }

  private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + ('a' - 'A')).toByte else b

  /** `bytes[offset..]` decoded under `cs`, or null when they are not valid
    * in it. */
  private def strict(bytes: Array[Byte], offset: Int, cs: Charset): String = {
    val len = bytes.length - offset
    if (cs == StandardCharsets.UTF_8) {
      // Malformed input always decodes to at least one U+FFFD, so a result
      // without one is the strict decoding; with one, it may be real text.
      val s = new String(bytes, offset, len, StandardCharsets.UTF_8)
      if (s.indexOf('\ufffd') < 0) s else strictDecoder(bytes, offset, cs)
    } else if (cs == StandardCharsets.ISO_8859_1) new String(bytes, offset, len, cs)
    else if (cs == StandardCharsets.US_ASCII) {
      var p = offset
      while (p < bytes.length && bytes(p) >= 0) p += 1
      if (p == bytes.length) new String(bytes, offset, len, cs) else null
    } else strictDecoder(bytes, offset, cs)
  }

  private def strictDecoder(bytes: Array[Byte], offset: Int, cs: Charset): String = {
    val dec: CharsetDecoder = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(ByteBuffer.wrap(bytes, offset, bytes.length - offset)).toString
    catch { case _: java.nio.charset.CharacterCodingException => null }
  }
}
