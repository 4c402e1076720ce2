package graft.extract.html

/** End-to-end HTML main-content extraction: bytes -> charset decode ->
  * streaming tokenize -> block segmentation -> Boilerpipe-style
  * classification -> content text (blocks joined by '\n').
  *
  * Each page's text is copied about once: ASCII, Latin-1 and valid UTF-8
  * bytes become one `String`; text tokens are index ranges into it; the
  * block builder decodes character references and normalizes whitespace
  * from those ranges straight into each block's text; and the content
  * blocks are joined in one pre-sized builder.
  *
  * Pure JVM, allocation-light, total (no I/O, no processes) — designed to run
  * inside `Dataset[WebPage].mapPartitions`, replacing the reference's
  * one-LibreOffice-process-per-document loop
  * (/root/reference/src/converters/document_converters.py:100-111).
  */
object HtmlExtractor {

  def extract(htmlBytes: Array[Byte]): String =
    extractFromString(Charsets.decode(htmlBytes))

  def extractFromString(html: String): String = {
    val blocks = BlockBuilder.build(HtmlTokenizer.tokenize(html))
    Classifier.extractText(blocks)
  }

  /** Diagnostic: all blocks with their features (for debug queries/tests). */
  def blocks(htmlBytes: Array[Byte]): Vector[TextBlock] =
    BlockBuilder.build(HtmlTokenizer.tokenize(Charsets.decode(htmlBytes)))
}
