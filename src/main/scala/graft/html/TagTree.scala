package graft.html

import graft.text.TextOps
import scala.collection.mutable.ArrayBuffer

/** Lightweight array-backed DOM in pre-order (document order).
  *
  * Node `i`'s subtree is the index range `(i, end(i))` — this makes
  * "all descendants", "everything after this node in document order"
  * (BeautifulSoup `find_all_next`) and bounded forward scans all cheap
  * integer range scans, which is what the reference's section/span
  * segmentation is built from (base_parser.py:85-241).
  *
  * Stray end tags are ignored; unclosed elements are closed at EOF;
  * void elements (br, img, hr, …) never take children. The fixture
  * corpus stays within the well-formed subset both this and Python's
  * html.parser agree on (SURVEY.md §7.4).
  */
final class TagTree private (
    val kind: Array[Byte],          // 0=elem 1=text 2=comment
    val name: Array[String],        // lowercased, null for non-elements
    val attrNames: Array[Array[String]],
    val attrValues: Array[Array[String]],
    val text: Array[String],        // text/comment payload
    val parent: Array[Int],
    val end: Array[Int],            // exclusive end of subtree span
    // node count — the backing arrays come straight from the builder
    // (capacity >= size) to avoid 7 defensive copies per document
    private val sizeN: Int) {

  def size: Int = sizeN

  @inline def isElem(i: Int): Boolean = kind(i) == TagTree.KElem
  @inline def isText(i: Int): Boolean = kind(i) == TagTree.KText
  @inline def isComment(i: Int): Boolean = kind(i) == TagTree.KComment

  def attr(i: Int, a: String): String = {
    val ns = attrNames(i)
    if (ns == null) return null
    var k = 0
    while (k < ns.length) {
      if (ns(k) == a) return attrValues(i)(k)
      k += 1
    }
    null
  }

  def hasClass(i: Int, c: String): Boolean = {
    val v = attr(i, "class")
    v != null && v.split("\\s+").contains(c)
  }

  /** First descendant of `i` (or any node if i==0) matching. */
  def findFirst(from: Int, until: Int)(pred: Int => Boolean): Int = {
    var k = from
    while (k < until) {
      if (pred(k)) return k
      k += 1
    }
    -1
  }

  def findElem(from: Int, until: Int, nm: String): Int =
    findFirst(from, until)(k => isElem(k) && name(k) == nm)

  /** All indices in [from, until) matching pred, document order. */
  def findAll(from: Int, until: Int)(pred: Int => Boolean): IndexedSeq[Int] = {
    val out = ArrayBuffer.empty[Int]
    var k = from
    while (k < until) {
      if (pred(k)) out += k
      k += 1
    }
    out.toIndexedSeq
  }

  /** Descendant scan range of node i (excludes i itself). */
  @inline def subtree(i: Int): (Int, Int) = (i + 1, end(i))

  /** Nearest ancestor with the given element name, or -1. */
  def ancestor(i: Int, nm: String): Int = {
    var p = parent(i)
    while (p >= 0) {
      if (isElem(p) && name(p) == nm) return p
      p = parent(p)
    }
    -1
  }

  /** True if `anc` is a (possibly transitive) ancestor of `i`. */
  @inline def isAncestor(anc: Int, i: Int): Boolean = i > anc && i < end(anc)

  /** BeautifulSoup `get_text(strip=True)` parity: per-text-node Python
    * strip, empties dropped, concatenated with NO separator (F11).
    */
  def textStrip(i: Int): String = {
    if (isText(i)) return TextOps.stripPy(text(i))
    val sb = new java.lang.StringBuilder()
    var k = i + 1
    val e = end(i)
    while (k < e) {
      if (isText(k)) {
        val t = TextOps.stripPy(text(k))
        if (t.nonEmpty) sb.append(t)
      }
      k += 1
    }
    sb.toString
  }

  /** Raw concatenated text (no strip), BS `get_text()` parity. */
  def textRaw(i: Int): String = {
    if (isText(i)) return text(i)
    val sb = new java.lang.StringBuilder()
    var k = i + 1
    val e = end(i)
    while (k < e) {
      if (isText(k)) sb.append(text(k))
      k += 1
    }
    sb.toString
  }
}

object TagTree {
  final val KElem: Byte = 0
  final val KText: Byte = 1
  final val KComment: Byte = 2

  private[graft] val voidElems = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")

  /** Growable primitive/ref arrays — no per-element boxing (the parse
    * path is allocation-critical: it runs per row on billions of pages).
    */
  private final class Builder(initial: Int) {
    var n = 0
    var kinds = new Array[Byte](initial)
    var names = new Array[String](initial)
    var ans = new Array[Array[String]](initial)
    var avs = new Array[Array[String]](initial)
    var texts = new Array[String](initial)
    var parents = new Array[Int](initial)
    var ends = new Array[Int](initial)
    // open-element stack, primitive
    var stack = new Array[Int](64)
    var sp = 0

    def ensure(): Unit = if (n == kinds.length) {
      val cap = kinds.length * 2
      kinds = java.util.Arrays.copyOf(kinds, cap)
      names = java.util.Arrays.copyOf(names, cap)
      ans = java.util.Arrays.copyOf(ans, cap)
      avs = java.util.Arrays.copyOf(avs, cap)
      texts = java.util.Arrays.copyOf(texts, cap)
      parents = java.util.Arrays.copyOf(parents, cap)
      ends = java.util.Arrays.copyOf(ends, cap)
    }
    def push(i: Int): Unit = {
      if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
      stack(sp) = i; sp += 1
    }
    @inline def curParent: Int = if (sp == 0) -1 else stack(sp - 1)
  }

  def parse(html: String): TagTree = {
    val b = new Builder(math.max(16, math.min(html.length / 16, 1 << 16)))

    val sink = new HtmlTokenizer.Sink {
      def startTag(nm: String, attrNames: Array[String],
                   attrValues: Array[String], selfClosing: Boolean): Unit = {
        b.ensure()
        val idx = b.n
        b.kinds(idx) = KElem
        b.names(idx) = nm
        if (attrNames != null) {
          b.ans(idx) = attrNames
          b.avs(idx) = attrValues
        }
        b.parents(idx) = b.curParent
        b.ends(idx) = -1
        b.n += 1
        if (!selfClosing && !voidElems.contains(nm)) b.push(idx)
        else b.ends(idx) = idx + 1
      }
      def endTag(nm: String): Unit = {
        // close matching open element if present anywhere on the stack
        var k = b.sp - 1
        var found = -1
        while (k >= 0 && found < 0) { if (b.names(b.stack(k)) == nm) found = k; k -= 1 }
        if (found >= 0) {
          while (b.sp > found) {
            b.sp -= 1
            b.ends(b.stack(b.sp)) = b.n
          }
        } // else stray end tag: ignore (html.parser behavior)
      }
      def text(t: String): Unit = {
        b.ensure()
        val idx = b.n
        b.kinds(idx) = KText; b.texts(idx) = t
        b.parents(idx) = b.curParent; b.ends(idx) = idx + 1
        b.n += 1
      }
      def comment(t: String): Unit = {
        b.ensure()
        val idx = b.n
        b.kinds(idx) = KComment; b.texts(idx) = t
        b.parents(idx) = b.curParent; b.ends(idx) = idx + 1
        b.n += 1
      }
    }
    HtmlTokenizer.tokenize(html, sink)
    while (b.sp > 0) { b.sp -= 1; b.ends(b.stack(b.sp)) = b.n }
    new TagTree(b.kinds, b.names, b.ans, b.avs, b.texts, b.parents, b.ends, b.n)
  }
}
