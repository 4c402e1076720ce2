package graft.extract.html

/** HTML character-reference decoding: numeric (`&#97;` / `&#x61;`) plus a
  * table of the common named entities. Unknown references are left literal
  * (lenient, browser-like). Strict on the trailing `;` — all fixtures use it.
  * Decoding streams characters into a [[Entities.Sink]], so a text range of
  * the source page is decoded without copying it first.
  */
object Entities {

  /** Receives decoded characters in order. */
  trait Sink {
    def put(c: Char): Unit
  }

  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "middot" -> "·", "bull" -> "•",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×",
    "divide" -> "÷", "frac12" -> "½", "frac14" -> "¼",
    "sect" -> "§", "para" -> "¶", "euro" -> "€",
    "pound" -> "£", "yen" -> "¥", "cent" -> "¢",
    "agrave" -> "à", "aacute" -> "á", "acirc" -> "â",
    "auml" -> "ä", "aring" -> "å", "aelig" -> "æ",
    "ccedil" -> "ç", "egrave" -> "è", "eacute" -> "é",
    "ecirc" -> "ê", "euml" -> "ë", "igrave" -> "ì",
    "iacute" -> "í", "icirc" -> "î", "iuml" -> "ï",
    "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
    "ocirc" -> "ô", "ouml" -> "ö", "oslash" -> "ø",
    "ugrave" -> "ù", "uacute" -> "ú", "ucirc" -> "û",
    "uuml" -> "ü", "yacute" -> "ý", "szlig" -> "ß",
    "Agrave" -> "À", "Aacute" -> "Á", "Auml" -> "Ä",
    "Eacute" -> "É", "Ouml" -> "Ö", "Uuml" -> "Ü",
    "shy" -> "­", "ensp" -> " ", "emsp" -> " ",
    "thinsp" -> " ", "zwnj" -> "‌", "zwj" -> "‍")

  private val maxNameLength = named.keysIterator.map(_.length).max

  /** Named references keyed by [[nameKey]], sorted for binary search;
    * every value is a single char. */
  private val (namedKeys, namedChars) = {
    val byKey = named.toArray.map { case (k, v) =>
      require(v.length == 1, k); (nameKey(k, 0, k.length), v.charAt(0))
    }.sortBy(_._1)
    (byKey.map(_._1), byKey.map(_._2))
  }

  /** `s[from, to)` packed 7 bits per char, or -1 when it cannot be a named
    * reference: longer than every name, or holding a non-ASCII char or a
    * NUL (which would pack like an absent char). Case-sensitive. */
  private def nameKey(s: String, from: Int, to: Int): Long = {
    if (to - from > maxNameLength) return -1L
    var k = 0L
    var p = from
    while (p < to) {
      val c = s.charAt(p)
      if (c == 0 || c >= 0x80) return -1L
      k = (k << 7) | c
      p += 1
    }
    k
  }

  /** Decode the character references in `s[start, end)` into `out`; the
    * rest of the range passes through unchanged. A reference ends at the
    * first `;` after its `&` and spans at most 32 chars. */
  def decode(s: String, start: Int, end: Int, out: Sink): Unit = {
    var i = start
    while (i < end) {
      val c = s.charAt(i)
      val semi = if (c == '&') semicolon(s, i + 1, math.min(end, i + 33)) else -1
      val cp = if (semi < 0) -1 else reference(s, i + 1, semi)
      if (cp < 0) { out.put(c); i += 1 }
      else {
        if (cp < Character.MIN_SUPPLEMENTARY_CODE_POINT) out.put(cp.toChar)
        else { out.put(Character.highSurrogate(cp)); out.put(Character.lowSurrogate(cp)) }
        i = semi + 1
      }
    }
  }

  /** Index of the first `;` in `s[from, to)`, or -1. */
  private def semicolon(s: String, from: Int, to: Int): Int = {
    var j = from
    while (j < to && s.charAt(j) != ';') j += 1
    if (j < to) j else -1
  }

  /** The code point that reference body `s[from, to)` (between `&` and `;`)
    * stands for, or -1 when it is not a known reference. Numeric bodies
    * follow `Integer.parseInt`, sign and non-ASCII digits included. */
  private def reference(s: String, from: Int, to: Int): Int =
    if (from < to && s.charAt(from) == '#') {
      val hex = to - from > 2 && (s.charAt(from + 1) == 'x' || s.charAt(from + 1) == 'X')
      val cp =
        try Integer.parseInt(s, if (hex) from + 2 else from + 1, to, if (hex) 16 else 10)
        catch { case _: NumberFormatException => -1 }
      if (cp >= 0 && Character.isValidCodePoint(cp)) cp else -1
    } else {
      val k = nameKey(s, from, to)
      val ix = if (k < 0) -1 else java.util.Arrays.binarySearch(namedKeys, k)
      if (ix >= 0) namedChars(ix) else -1
    }
}
