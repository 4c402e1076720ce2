package graft.util

/** The one XML tag cursor of the office kernels (DOCX/PPTX runs, XLSX
  * sheets and shared strings, ODF content and flat-ODF roots, EPUB
  * container and OPF). It walks a decoded part tag by tag: `next()` moves to
  * the next `<...>`, whose name is matched in place (`isOpen`, `isClose`)
  * with no substring per tag, and `appendText` decodes the text between the
  * previous tag and this one into the caller's builder. Each kernel keeps
  * its own state machine over the cursor.
  *
  * A tag ends at its first '>' and a tag cut short ends the scan. A name
  * ends at the first char that is not a letter, digit, `:`, `-`, `_` or `.`,
  * so `w:t` does not match `w:tab`, nor `item` `itemref`. Comments, CDATA
  * and processing instructions are not special: they read as tags no kernel
  * matches.
  */
final class XmlCursor(xml: String) {
  private[this] var from = 0 // text before the current tag: [from, lt)
  private[this] var lt = -1  // the current tag is xml[lt..gt], '<' to '>'
  private[this] var gt = -1

  /** Moves to the next complete tag; false at the end or at a tag cut short,
    * and on every call after that. */
  def next(): Boolean = {
    from = gt + 1
    lt = xml.indexOf('<', from)
    gt = if (lt < 0) -1 else xml.indexOf('>', lt + 1)
    if (gt >= 0) true
    else { lt = xml.length; gt = xml.length - 1; false }
  }

  /** `<name ...>` or `<name .../>`, the name followed by a non-name char. */
  def isOpen(name: String): Boolean = {
    val end = lt + 1 + name.length
    end <= gt && xml.startsWith(name, lt + 1) &&
      (end == gt || !XmlCursor.nameChar(xml.charAt(end)))
  }

  /** Exactly `</name>`. */
  def isClose(name: String): Boolean =
    gt - lt - 2 == name.length && xml.charAt(lt + 1) == '/' && xml.startsWith(name, lt + 2)

  /** The tag ends in `/>`. */
  def selfClosing: Boolean = gt > lt + 1 && xml.charAt(gt - 1) == '/'

  /** The value of the current tag's attribute `name`, undecoded; None when
    * the tag has no such attribute or the value is cut by the tag's end. */
  def attr(name: String): Option[String] = {
    var i = lt + 1
    while (i < gt && XmlCursor.nameChar(xml.charAt(i))) i += 1 // the tag's name
    var key = -1 // start of the attribute name before the last '='
    var keyEnd = -1
    while (i < gt) {
      val c = xml.charAt(i)
      if (c == '"' || c == '\'') {
        val close = xml.indexOf(c, i + 1)
        if (close < 0 || close > gt) return None
        if (key >= 0 && keyEnd - key == name.length && xml.startsWith(name, key))
          return Some(xml.substring(i + 1, close))
        key = -1
        i = close + 1
      } else if (XmlCursor.nameChar(c)) {
        key = i
        while (i < gt && XmlCursor.nameChar(xml.charAt(i))) i += 1
        keyEnd = i
        while (i < gt && Character.isWhitespace(xml.charAt(i))) i += 1
        if (i < gt && xml.charAt(i) == '=') i += 1 else key = -1
        while (i < gt && Character.isWhitespace(xml.charAt(i))) i += 1
      } else i += 1
    }
    None
  }

  /** Appends the text between the previous tag and the current one,
    * entity-decoded. */
  def appendText(out: java.lang.StringBuilder): Unit = XmlCursor.decode(xml, from, lt, out)
}

object XmlCursor {
  private def nameChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == ':' || c == '-' || c == '_' || c == '.'

  /** Appends `s[start, end)` with XML's five predefined entities and
    * numeric references (`&#65;`, `&#x41;`) decoded. A reference that is
    * unknown, malformed, longer than 12 chars with its `&` and `;`, or not
    * ended within the range stays literal. */
  private[graft] def decode(s: String, start: Int, end: Int, out: java.lang.StringBuilder): Unit = {
    var run = start
    var i = start
    while (i < end) {
      if (s.charAt(i) == '&') {
        out.append(s, run, i)
        i = reference(s, i, end, out)
        run = i
      } else i += 1
    }
    out.append(s, run, end)
  }

  /** Decodes the reference at `amp` into `out` and returns the index after
    * it; a literal '&' and `amp + 1` when it does not decode. */
  private def reference(s: String, amp: Int, end: Int, out: java.lang.StringBuilder): Int = {
    var semi = amp + 1
    while (semi < end && semi - amp <= 12 && s.charAt(semi) != ';') semi += 1
    val cp =
      if (semi >= end || semi - amp > 12) -1
      else {
        def is(name: String) = semi - amp - 1 == name.length && s.startsWith(name, amp + 1)
        if (is("amp")) '&' else if (is("lt")) '<' else if (is("gt")) '>'
        else if (is("quot")) '"' else if (is("apos")) '\''
        else if (semi - amp < 3 || s.charAt(amp + 1) != '#') -1
        else {
          val hex = s.charAt(amp + 2) == 'x' || s.charAt(amp + 2) == 'X'
          val radix = if (hex) 16 else 10
          var i = if (hex) amp + 3 else amp + 2
          var v = if (i < semi) 0 else -1
          while (i < semi && v >= 0) {
            val d = Character.digit(s.charAt(i), radix)
            v = if (d < 0 || v > (Character.MAX_CODE_POINT - d) / radix) -1 else v * radix + d
            i += 1
          }
          v
        }
      }
    if (cp < 0) { out.append('&'); amp + 1 }
    else { out.appendCodePoint(cp); semi + 1 }
  }
}
