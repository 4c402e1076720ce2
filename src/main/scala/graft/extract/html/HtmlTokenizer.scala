package graft.extract.html

import java.util.Locale

/** Streaming single-pass HTML tokenizer (north_star: "a streaming HTML
  * tokenizer builds a lightweight DOM"). No regex over the whole document;
  * one forward scan with raw-text modes for script/style/title/textarea.
  * Lenient in the browser spirit: bogus comments, unquoted attributes,
  * stray `</`, unterminated constructs all degrade gracefully.
  *
  * Tokens copy nothing out of the page: a [[HtmlTokenizer.Text]] is an index
  * range over the source string whose character references the consumer
  * decodes in place ([[Entities.decode]]); tags with a known name are shared
  * instances from a fixed table, and attributes are scanned (quote-aware, so
  * a quoted `>` does not end the tag) but not kept.
  *
  * Replaces the reference's delegation of HTML understanding to LibreOffice
  * (/root/reference/src/converters/document_converters.py:100-111) with a
  * pure-JVM kernel usable inside Dataset.mapPartitions.
  */
object HtmlTokenizer {

  sealed trait Tok
  /** The text `src[start, end)`, character references still encoded.
    * `raw` marks the content of a raw-text element (script, style, ...),
    * which has no character references. */
  final case class Text(src: String, start: Int, end: Int, raw: Boolean) extends Tok
  /** `name` is lower-case. */
  final case class StartTag(name: String, selfClosing: Boolean) extends Tok
  final case class EndTag(name: String) extends Tok

  /** Elements whose content is raw text up to the matching close tag. */
  private val rawTextTags = Set("script", "style", "textarea", "title", "xmp")

  /** Tag names that get shared token instances: every name the block
    * builder acts on plus the common inline ones. Others are allocated per
    * tag. */
  private val known: Array[String] = (rawTextTags.toSeq ++ Seq(
    "html", "head", "body", "meta", "link", "base", "p", "div", "span", "section",
    "article", "main", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "table",
    "thead", "tbody", "tfoot", "tr", "td", "th", "blockquote", "pre", "br", "hr",
    "figure", "figcaption", "dl", "dt", "dd", "caption", "address", "center",
    "fieldset", "legend", "details", "summary", "noscript", "template", "iframe",
    "object", "embed", "svg", "math", "nav", "header", "footer", "aside", "form",
    "button", "select", "option", "input", "label", "img", "area", "col", "source",
    "track", "wbr", "picture", "video", "audio", "canvas", "a", "b", "i", "u", "s",
    "q", "em", "strong", "small", "sub", "sup", "code", "kbd", "abbr", "cite", "dfn",
    "time", "mark", "font", "nobr", "del", "ins", "var", "samp", "bdi", "bdo"))
    .distinct.sortBy(n => nameKey(n, 0, n.length)).toArray

  private val knownKeys: Array[Long] = known.map(n => nameKey(n, 0, n.length))
  private val opens: Array[StartTag] = known.map(StartTag(_, selfClosing = false))
  private val selfCloses: Array[StartTag] = known.map(StartTag(_, selfClosing = true))
  private val ends: Array[EndTag] = known.map(EndTag(_))
  /** `</name` for the raw-text elements, null for the others. */
  private val rawCloses: Array[String] =
    known.map(n => if (rawTextTags.contains(n)) "</" + n else null)

  /** A tag name `s[from, to)` (name chars only) packed case-insensitively
    * 6 bits per char, or -1 when it is longer than 10 chars. */
  private def nameKey(s: String, from: Int, to: Int): Long = {
    if (to - from > 10) return -1L
    var k = 0L
    var p = from
    while (p < to) {
      val c = s.charAt(p)
      val code =
        if (c >= 'a' && c <= 'z') c - 'a' + 1
        else if (c >= 'A' && c <= 'Z') c - 'A' + 1
        else if (c >= '0' && c <= '9') c - '0' + 27
        else if (c == '-') 37
        else if (c == '_') 38
        else 39 // ':'
      k = (k << 6) | code
      p += 1
    }
    k
  }

  /** Index of the tag name `s[from, to)` in [[known]], or -1. */
  private def knownIndex(s: String, from: Int, to: Int): Int = {
    val k = nameKey(s, from, to)
    if (k < 0) -1
    else math.max(-1, java.util.Arrays.binarySearch(knownKeys, k))
  }

  private def lowerName(s: String, from: Int, to: Int): String =
    s.substring(from, to).toLowerCase(Locale.ROOT)

  def tokenize(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private val n = s.length
    /** When >= 0, we are inside raw-text element `known(rawTag)`, awaiting
      * its close tag. */
    private var rawTag = -1
    private var pending: Tok = null

    advance()

    override def hasNext: Boolean = pending != null
    override def next(): Tok = { val t = pending; advance(); t }

    private def isNameStart(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    private def isNameChar(c: Char) =
      isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

    private def advance(): Unit = {
      pending = null
      while (pending == null && i < n) {
        if (rawTag >= 0) emitRawText()
        else if (s.charAt(i) == '<') emitMarkup()
        else emitText()
      }
    }

    /** Raw-text content up to `</name` (case-insensitive). */
    private def emitRawText(): Unit = {
      val close = rawCloses(rawTag)
      var j = indexOfIgnoreCase(close, i)
      if (j < 0) j = n
      if (j > i) { pending = Text(s, i, j, raw = true); i = j }
      else { // at the close tag itself
        i = j + close.length
        while (i < n && s.charAt(i) != '>') i += 1
        if (i < n) i += 1
        pending = ends(rawTag)
        rawTag = -1
      }
    }

    /** First `needle` (which starts with '<' and is lower-case) at or after
      * `from`, comparing through `Character.toLowerCase`. */
    private def indexOfIgnoreCase(needle: String, from: Int): Int = {
      val m = needle.length
      var k = s.indexOf('<', from)
      while (k >= 0 && k <= n - m) {
        var p = 1
        while (p < m && Character.toLowerCase(s.charAt(k + p)) == needle.charAt(p)) p += 1
        if (p == m) return k
        k = s.indexOf('<', k + 1)
      }
      -1
    }

    private def emitText(): Unit = {
      var j = s.indexOf('<', i)
      if (j < 0) j = n
      pending = Text(s, i, j, raw = false)
      i = j
    }

    private def emitMarkup(): Unit = {
      // s(i) == '<'
      if (i + 1 >= n) { pending = Text(s, i, n, raw = false); i = n; return }
      val c = s.charAt(i + 1)
      if (c == '!') skipDeclaration()
      else if (c == '?') skipUntilGt(i + 2) // processing instruction / bogus
      else if (c == '/') {
        if (i + 2 < n && isNameStart(s.charAt(i + 2))) parseEndTag()
        else skipUntilGt(i + 2) // bogus comment per spec
      } else if (isNameStart(c)) parseStartTag()
      else { pending = Text(s, i, i + 1, raw = false); i += 1 } // literal '<'
    }

    private def skipDeclaration(): Unit = {
      if (s.startsWith("<!--", i)) {
        val j = s.indexOf("-->", i + 4)
        i = if (j < 0) n else j + 3
      } else if (s.startsWith("<![CDATA[", i)) {
        val j = s.indexOf("]]>", i + 9)
        i = if (j < 0) n else j + 3
      } else skipUntilGt(i + 2) // <!DOCTYPE ...> and other declarations
    }

    private def skipUntilGt(from: Int): Unit = {
      var j = s.indexOf('>', from)
      i = if (j < 0) n else j + 1
    }

    private def parseEndTag(): Unit = {
      var j = i + 2
      val start = j
      while (j < n && isNameChar(s.charAt(j))) j += 1
      val ix = knownIndex(s, start, j)
      pending = if (ix >= 0) ends(ix) else EndTag(lowerName(s, start, j))
      while (j < n && s.charAt(j) != '>') j += 1
      i = if (j < n) j + 1 else n
    }

    private def parseStartTag(): Unit = {
      var j = i + 1
      val start = j
      while (j < n && isNameChar(s.charAt(j))) j += 1
      val nameEnd = j
      var selfClosing = false
      var done = false
      while (!done && j < n) {
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        if (j >= n) done = true
        else s.charAt(j) match {
          case '>' => j += 1; done = true
          case '/' =>
            if (j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
            else j += 1
          case _ =>
            // attribute name
            while (j < n && !Character.isWhitespace(s.charAt(j)) &&
                   s.charAt(j) != '=' && s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            if (j < n && s.charAt(j) == '=') {
              j += 1
              while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
              if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
                val q = s.charAt(j); j += 1
                while (j < n && s.charAt(j) != q) j += 1
                if (j < n) j += 1
              } else { // unquoted value
                while (j < n && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') j += 1
              }
            }
        }
      }
      i = j
      val ix = knownIndex(s, start, nameEnd)
      if (ix < 0) pending = StartTag(lowerName(s, start, nameEnd), selfClosing)
      else {
        if (!selfClosing && rawCloses(ix) != null) rawTag = ix
        pending = if (selfClosing) selfCloses(ix) else opens(ix)
      }
    }
  }
}
