package graft.extract

import graft.html.TagTree
import graft.text.TextOps
import scala.collection.mutable.ArrayBuffer

/** Deterministic main-content extraction: block segmentation +
  * text-density / link-density boilerplate classification
  * (Boilerpipe/Readability-style, per the north star). The rule is
  * fully deterministic so extracted text is byte-reproducible:
  *
  *  1. drop `script`/`style`/`noscript`/`template` subtrees + comments;
  *  2. segment the DOM into blocks at block-level boundaries;
  *  3. per block compute word count and link density (words under an
  *     `<a>` ancestor / total words), with whitespace collapsed by the
  *     Python-parity rule (TextOps.collapseWs);
  *  4. a block is CONTENT iff linkDensity <= MaxLinkDensity and
  *     wordCount >= MinWords; short low-link blocks (headlines) are
  *     kept when adjacent to a content block (one smoothing pass);
  *  5. output = content block texts joined with '\n'.
  *
  * Production calls (`extractText`, `extractWithStats`) run the
  * one-pass `Segmenter`; `segment` over a `TagTree` plus `classify` is
  * the reference form of the same rule.
  */
object MainContent {

  final val MinWords = 3
  final val MaxLinkDensity = 0.33

  private[extract] val skipElems = Set("script", "style", "noscript", "template", "head")
  private[extract] val blockElems = Set("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "td", "th", "blockquote", "pre", "article", "section", "main",
    "header", "footer", "nav", "aside", "ul", "ol", "table", "tr", "body",
    "html", "figure", "figcaption", "dd", "dt", "dl", "form", "fieldset",
    "address", "center")

  final case class Block(text: String, words: Int, linkWords: Int) {
    def linkDensity: Double = MainContent.linkDensity(words, linkWords)
  }

  private def linkDensity(words: Int, linkWords: Int): Double =
    if (words == 0) 0.0 else linkWords.toDouble / words

  /** The keep rule over per-block counts: block `i` of `n` is kept when
    * it is content (link density <= MaxLinkDensity and at least MinWords
    * words), or when it is low-link and next to a content block (one
    * smoothing pass).
    */
  private[extract] def kept(i: Int, n: Int, words: Array[Int], linkWords: Array[Int]): Boolean = {
    def lowLink(k: Int) = linkDensity(words(k), linkWords(k)) <= MaxLinkDensity
    def content(k: Int) = lowLink(k) && words(k) >= MinWords
    lowLink(i) && (words(i) >= MinWords ||
      (i > 0 && content(i - 1)) || (i + 1 < n && content(i + 1)))
  }

  /** Segment a parsed tree into text blocks in document order. */
  def segment(tree: TagTree): IndexedSeq[Block] = {
    val blocks = ArrayBuffer.empty[Block]
    val sb = new java.lang.StringBuilder()
    var words = 0
    var linkWords = 0

    def flush(): Unit = {
      // every appended fragment is individually collapsed (trimmed,
      // single-spaced) and fragments are joined with one space, so the
      // buffer is already in collapsed form — byte-identical to
      // collapseWs(sb), without the second pass
      if (sb.length() > 0) blocks += Block(sb.toString, words, linkWords)
      sb.setLength(0); words = 0; linkWords = 0
    }

    var i = 0
    val n = tree.size
    // document-order watermark: a text node is link text iff it sits
    // before the exclusive end of the most recent <a> subtree — O(1)
    // per node instead of a parent-chain walk
    var aUntil = -1
    while (i < n) {
      if (tree.isElem(i)) {
        val nm = tree.name(i)
        if (skipElems.contains(nm)) {
          i = tree.end(i) // skip whole subtree
        } else {
          if (nm == "a" && tree.end(i) > aUntil) aUntil = tree.end(i)
          if (blockElems.contains(nm)) flush()
          if (nm == "br") flush()
          i += 1
        }
      } else if (tree.isText(i)) {
        val t = tree.text(i)
        val collapsed = TextOps.collapseWs(t)
        if (collapsed.nonEmpty) {
          // collapsed text is single-spaced: words = spaces + 1 (no split alloc)
          var w = 1
          var ci = 0
          while (ci < collapsed.length) {
            if (collapsed.charAt(ci) == ' ') w += 1
            ci += 1
          }
          words += w
          if (i < aUntil) linkWords += w
          if (sb.length() > 0) sb.append(' ')
          sb.append(collapsed)
        }
        i += 1
      } else i += 1 // comment
    }
    flush()
    blocks.toIndexedSeq
  }

  def classify(blocks: IndexedSeq[Block]): Array[Boolean] = {
    val words = blocks.map(_.words).toArray
    val linkWords = blocks.map(_.linkWords).toArray
    Array.tabulate(blocks.length)(kept(_, blocks.length, words, linkWords))
  }

  /** Full pipeline: decoded html string → extracted main text. */
  def extractText(html: String): String = extractWithStats(html)._1

  /** Extraction metrics for the lineage/metrics sink. */
  final case class ExtractStats(blocks: Int, contentBlocks: Int,
                                htmlChars: Int, textChars: Int)

  private val segmenters = ThreadLocal.withInitial[Segmenter](() => new Segmenter)

  def extractWithStats(html: String): (String, ExtractStats) = segmenters.get().extract(html)
}
