package graft.extract.html

/** Boilerpipe-style shallow-text block classifier.
  *
  * Implements the published NumWords/LinkDensity decision rules from
  * Kohlschütter, Fankhauser, Nejdl — "Boilerplate Detection using Shallow
  * Text Features" (WSDM 2010), i.e. the densitometric classifier the
  * north_star names ("Boilerpipe-style text-density + link-density block
  * classifier"). Operates on the flat block sequence with prev/curr/next
  * context.
  *
  * One engine-specific addition: if the tree marks nothing as content
  * (short single-block documents), fall back to the longest low-link-density
  * block, so extraction is total on non-empty pages.
  */
object Classifier {

  private val Empty = TextBlock("", 0, 0)

  /** Decision tree from the Boilerpipe paper (NumWordsRulesClassifier). */
  def isContent(prev: TextBlock, curr: TextBlock, next: TextBlock): Boolean = {
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555556) {
      if (curr.numWords <= 16) {
        if (next.numWords <= 15) prev.numWords > 4
        else true
      } else true
    } else {
      if (curr.numWords <= 40) next.numWords > 17
      else true
    }
  }

  /** Final text assembly: content blocks joined by '\n', appended into
    * one builder sized to fit; a lone content block is returned as is. If
    * nothing is content, the longest block with acceptable link density
    * (the earliest among equals), or "" when there is none. */
  def extractText(blocks: IndexedSeq[TextBlock]): String = {
    val n = blocks.length
    def content(i: Int): Boolean =
      isContent(if (i > 0) blocks(i - 1) else Empty, blocks(i), if (i + 1 < n) blocks(i + 1) else Empty)
    var first = -1; var count = 0; var chars = 0
    var i = 0
    while (i < n) {
      if (content(i)) {
        if (first < 0) first = i
        count += 1; chars += blocks(i).text.length
      }
      i += 1
    }
    if (count == 1) blocks(first).text
    else if (count > 1) {
      val sb = new java.lang.StringBuilder(chars + count - 1)
      i = first
      while (i < n) {
        if (content(i)) {
          if (i > first) sb.append('\n')
          sb.append(blocks(i).text)
        }
        i += 1
      }
      sb.toString
    } else {
      var best = -1
      i = 0
      while (i < n) {
        val b = blocks(i)
        if (b.numWords > 0 && b.linkDensity <= 0.333333 &&
            (best < 0 || b.numWords > blocks(best).numWords)) best = i
        i += 1
      }
      if (best < 0) "" else blocks(best).text
    }
  }
}
