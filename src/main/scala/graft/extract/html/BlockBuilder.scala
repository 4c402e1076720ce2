package graft.extract.html

import scala.collection.mutable

/** A block of visible text with the two Boilerpipe shallow-text features:
  * word count and link density (anchored words / words). */
final case class TextBlock(text: String, numWords: Int, linkedWords: Int) {
  def linkDensity: Double = if (numWords == 0) 0.0 else linkedWords.toDouble / numWords
}

/** Lightweight DOM pass: folds the token stream into a flat sequence of
  * text blocks delimited by block-level elements, skipping non-content
  * subtrees (script/style/nav/header/footer/aside/form/...) and tracking
  * anchor depth for link density.
  *
  * This is the "lightweight DOM" of the north_star — we never materialize a
  * tree; a stack of open ignored elements plus the current block is
  * sufficient for block segmentation. Each text token's source range is
  * decoded ([[Entities.decode]]) and whitespace-normalized straight into the
  * current block's one reused builder, so a page's text is copied once on its
  * way into the blocks.
  */
object BlockBuilder {

  /** Elements that delimit text blocks. */
  private val blockTags = Set(
    "p", "div", "section", "article", "main", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "ul", "ol", "table", "thead", "tbody", "tfoot", "tr", "td",
    "th", "blockquote", "pre", "br", "hr", "figure", "figcaption", "dl",
    "dt", "dd", "caption", "address", "center", "fieldset", "legend",
    "details", "summary", "body", "html")

  /** Subtrees that never contribute content text. `head` covers `title`
    * and `meta`; semantic HTML5 boilerplate containers are pruned here so
    * the density classifier only judges ambiguous blocks. */
  private val ignoredTags = Set(
    "script", "style", "noscript", "template", "iframe", "object", "embed",
    "svg", "math", "nav", "header", "footer", "aside", "form", "button",
    "select", "option", "textarea", "head", "title", "xmp")

  /** Void elements — never pushed as open subtrees. */
  private val voidTags = Set(
    "br", "hr", "img", "input", "meta", "link", "embed", "area", "base",
    "col", "source", "track", "wbr")

  def build(toks: Iterator[HtmlTokenizer.Tok]): Vector[TextBlock] = {
    import HtmlTokenizer._
    val out = Vector.newBuilder[TextBlock]
    val ignoreStack = mutable.Stack[String]()
    var anchorDepth = 0
    val block = new Block

    while (toks.hasNext) {
      toks.next() match {
        case Text(src, start, end, raw) =>
          if (ignoreStack.isEmpty && !raw) {
            block.linked = anchorDepth > 0
            Entities.decode(src, start, end, block)
          }
        case StartTag(name, selfClosing) =>
          if (blockTags.contains(name) || ignoredTags.contains(name)) block.flush(out)
          if (ignoredTags.contains(name) && !selfClosing && !voidTags.contains(name))
            ignoreStack.push(name)
          if (name == "a" && !selfClosing && ignoreStack.isEmpty) anchorDepth += 1
        case EndTag(name) =>
          if (ignoreStack.nonEmpty && ignoreStack.contains(name)) {
            while (ignoreStack.nonEmpty && ignoreStack.pop() != name) ()
          } else if (ignoreStack.isEmpty) {
            if (blockTags.contains(name) || ignoredTags.contains(name)) block.flush(out)
            if (name == "a") anchorDepth = math.max(0, anchorDepth - 1)
          }
      }
    }
    block.flush(out)
    out.result()
  }

  /** The block being built, normalized as its characters arrive: any run of
    * whitespace (incl. NBSP and the zero-width/typographic spaces) becomes
    * one space, leading/trailing whitespace is dropped, and a word counts
    * as linked iff any of its chars arrived while [[linked]] was set. One
    * instance serves every block of a page. */
  private final class Block extends Entities.Sink {
    /** Whether the chars now being put sit inside an anchor. */
    var linked = false
    private val sb = new java.lang.StringBuilder(256)
    private var words = 0
    private var linkedWords = 0
    private var inWord = false
    private var wordLinked = false
    private var pendingSpace = false

    def put(c: Char): Unit = {
      val ws = Character.isWhitespace(c) || c == '\u00a0' || c == '\u200b' ||
        c == '\u00ad' || c == '\ufeff' || c == '\u2009' || c == '\u2002' || c == '\u2003'
      if (ws) {
        endWord()
        pendingSpace = sb.length > 0
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        inWord = true
        if (linked) wordLinked = true
        sb.append(c)
      }
    }

    private def endWord(): Unit = {
      if (inWord) { words += 1; if (wordLinked) linkedWords += 1 }
      inWord = false; wordLinked = false
    }

    /** Ends the block, appending it to `out` if it has visible text. */
    def flush(out: mutable.Growable[TextBlock]): Unit = {
      endWord()
      if (sb.length > 0) out += TextBlock(sb.toString, words, linkedWords)
      sb.setLength(0)
      words = 0; linkedWords = 0; pendingSpace = false
    }
  }
}
