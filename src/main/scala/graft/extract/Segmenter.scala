package graft.extract

import graft.html.{HtmlTokenizer, TagTree}
import graft.text.UnicodeTables

/** The one-pass main-content kernel: a tokenizer sink that segments
  * blocks straight from the tag and text events, with no tag tree, no
  * attribute strings and no per-block `String` in between.
  *
  * It keeps the open-element stack `TagTree.parse` keeps: void and
  * self-closing tags never open, an end tag closes the nearest open
  * element of its name and everything above it, a stray one is ignored,
  * and EOF closes the rest. A text event's ancestors are then exactly the
  * elements on the stack, so a text is dropped iff a skip element is open
  * and is link text iff an `a` is open — what `MainContent.segment` reads
  * off the tree's subtree ranges. Block elements and `br` end the open
  * block where they start, outside skipped content, as in `segment`.
  *
  * Each block's collapsed text goes into one char buffer, followed by a
  * '\n' slot, so the kept blocks are joined in place and copied out once.
  * One instance serves one thread at a time and is reused across pages;
  * buffers a giant page grew past the retention caps are dropped after
  * that page.
  */
private[extract] final class Segmenter extends HtmlTokenizer.Sink {
  import Segmenter._

  // block texts, each followed by its '\n' slot; [blockStart, len) is the open block
  private var buf = new Array[Char](InitChars)
  private var len = 0
  private var blockStart = 0
  private var words = 0
  private var linkWords = 0
  // closed blocks: text range in buf and word counts
  private var nBlocks = 0
  private var bStart = new Array[Int](InitBlocks)
  private var bEnd = new Array[Int](InitBlocks)
  private var bWords = new Array[Int](InitBlocks)
  private var bLinks = new Array[Int](InitBlocks)
  // open elements: name id, and the name itself only when the id is -1
  private var sp = 0
  private var stackId = new Array[Int](InitStack)
  private var stackName = new Array[String](InitStack)
  private var skipOpen = 0
  private var aOpen = 0

  /** Main text (kept blocks joined by '\n') and stats of `html`. */
  def extract(html: String): (String, MainContent.ExtractStats) = {
    len = 0; blockStart = 0; words = 0; linkWords = 0
    nBlocks = 0; sp = 0; skipOpen = 0; aOpen = 0
    HtmlTokenizer.tokenize(html, this)
    flush()
    var w = 0
    var kept = 0
    var i = 0
    while (i < nBlocks) {
      if (MainContent.kept(i, nBlocks, bWords, bLinks)) {
        // w never passes bStart(i): every earlier block left its text and
        // its '\n' slot behind it
        if (kept > 0) { buf(w) = '\n'; w += 1 }
        val s = bStart(i)
        val l = bEnd(i) - s
        if (w != s) System.arraycopy(buf, s, buf, w, l)
        w += l
        kept += 1
      }
      i += 1
    }
    val text = new String(buf, 0, w)
    val stats = MainContent.ExtractStats(nBlocks, kept, html.length, text.length)
    release()
    (text, stats)
  }

  private def release(): Unit = {
    if (buf.length > RetainChars) buf = new Array[Char](InitChars)
    if (bStart.length > RetainBlocks) {
      bStart = new Array[Int](InitBlocks); bEnd = new Array[Int](InitBlocks)
      bWords = new Array[Int](InitBlocks); bLinks = new Array[Int](InitBlocks)
    }
    if (stackId.length > RetainStack) {
      stackId = new Array[Int](InitStack); stackName = new Array[String](InitStack)
    } else while (sp > 0) { sp -= 1; stackName(sp) = null }
  }

  private def flush(): Unit = {
    if (len > blockStart) {
      if (nBlocks == bStart.length) {
        val cap = nBlocks * 2
        bStart = java.util.Arrays.copyOf(bStart, cap); bEnd = java.util.Arrays.copyOf(bEnd, cap)
        bWords = java.util.Arrays.copyOf(bWords, cap); bLinks = java.util.Arrays.copyOf(bLinks, cap)
      }
      bStart(nBlocks) = blockStart; bEnd(nBlocks) = len
      bWords(nBlocks) = words; bLinks(nBlocks) = linkWords
      nBlocks += 1
      buf(len) = '\n' // text spans always leave room for this slot
      len += 1
      blockStart = len
    }
    words = 0; linkWords = 0
  }

  override def wantsAttrs: Boolean = false

  override def startTag(id: Int, name: String, attrNames: Array[String],
                        attrValues: Array[String], selfClosing: Boolean): Unit = {
    val f = if (id >= 0) flags(id) else 0
    if (skipOpen == 0 && (f & Flush) != 0) flush()
    if (!selfClosing && (f & Void) == 0) {
      if (sp == stackId.length) {
        stackId = java.util.Arrays.copyOf(stackId, sp * 2)
        stackName = java.util.Arrays.copyOf(stackName, sp * 2)
      }
      stackId(sp) = id
      if (id < 0) stackName(sp) = name
      sp += 1
      if ((f & Skip) != 0) skipOpen += 1
      if ((f & A) != 0) aOpen += 1
    }
  }

  override def endTag(id: Int, name: String): Unit = {
    var k = sp - 1
    if (id >= 0) while (k >= 0 && stackId(k) != id) k -= 1
    else while (k >= 0 && !(stackId(k) < 0 && stackName(k) == name)) k -= 1
    while (sp > k && k >= 0) {
      sp -= 1
      val top = stackId(sp)
      if (top >= 0) {
        val f = flags(top)
        if ((f & Skip) != 0) skipOpen -= 1
        if ((f & A) != 0) aOpen -= 1
      } else stackName(sp) = null
    }
  }

  /** Appends the Python-whitespace-collapsed text to the open block,
    * joined to earlier text by one space — the buffer stays in the form
    * `TextOps.collapseWs` gives the block's fragments joined by ' '.
    * Char refs are decoded as `HtmlTokenizer.unescape` decodes them,
    * inline. The collapse walks chars, not code points: no Python space
    * is a surrogate, so pairs and lone surrogates are copied as they are.
    */
  override def textSpan(src: String, from: Int, until: Int, raw: Boolean): Unit = {
    if (skipOpen > 0) return
    // the text is copied in one slot past the block's end and collapsed in
    // place: the slot takes the joining space, and after it no step writes
    // more chars than it has read (a decoded ref is shorter than the ref),
    // so writes never overtake reads. One more slot for the block's '\n'.
    val start = len + 1
    val end = start + (until - from)
    if (end + 1 > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(end + 1, buf.length * 2))
    val b = buf
    src.getChars(from, until, b, start)
    val toSrc = from - start // b(k) came from src(k + toSrc)
    var w = len
    var r = start
    var fragWords = 0
    var pending = false
    while (r < end) {
      var c = b(r)
      r += 1
      // second char of a decoded supplementary code point, or 0
      var low = '\u0000'
      if (c == '&' && !raw) {
        val semi = HtmlTokenizer.refEnd(src, r - 1 + toSrc, until)
        val cp = if (semi < 0) -1 else HtmlTokenizer.refCodePoint(src, r + toSrc, semi)
        if (cp >= 0) {
          r = semi + 1 - toSrc
          if (cp < Character.MIN_SUPPLEMENTARY_CODE_POINT) c = cp.toChar
          else { c = Character.highSurrogate(cp); low = Character.lowSurrogate(cp) }
        }
      }
      if (isSpace(c)) {
        if (fragWords > 0) pending = true
      } else {
        if (pending) { b(w) = ' '; w += 1; fragWords += 1; pending = false }
        else if (fragWords == 0) {
          if (w > blockStart) { b(w) = ' '; w += 1 }
          fragWords = 1
        }
        b(w) = c; w += 1
        if (low != 0) { b(w) = low; w += 1 }
        // the common case, inline: plain chars, and single ASCII spaces
        // between them, are copied as they are
        var more = true
        while (more && r < end) {
          val d = b(r)
          if (plain(d)) { b(w) = d; w += 1; r += 1 }
          else if (d == ' ' && r + 1 < end && plain(b(r + 1))) {
            b(w) = ' '; b(w + 1) = b(r + 1); w += 2; r += 2; fragWords += 1
          } else more = false
        }
      }
    }
    if (fragWords > 0) {
      len = w
      words += fragWords
      if (aOpen > 0) linkWords += fragWords
    }
  }

  // The tokenizer calls the id and span callbacks above; these serve
  // any other event source.
  def startTag(name: String, attrNames: Array[String],
               attrValues: Array[String], selfClosing: Boolean): Unit =
    startTag(HtmlTokenizer.nameId(name), name, attrNames, attrValues, selfClosing)
  def endTag(name: String): Unit = endTag(HtmlTokenizer.nameId(name), name)
  def text(t: String): Unit = textSpan(t, 0, t.length, raw = true)
  def comment(t: String): Unit = ()
}

private[extract] object Segmenter {
  private final val Skip = 1
  private final val A = 2
  private final val Flush = 4
  private final val Void = 8

  // initial sizes, and the sizes above which a buffer is not kept
  private final val InitChars = 1 << 12
  private final val RetainChars = 1 << 16
  private final val InitBlocks = 64
  private final val RetainBlocks = 1 << 12
  private final val InitStack = 64
  private final val RetainStack = 1 << 10

  /** Per name id: the element rules of `MainContent.segment` and
    * `TagTree.parse`, from the same name sets.
    */
  private val flags: Array[Int] = {
    val f = new Array[Int](HtmlTokenizer.NameCount)
    def mark(names: Iterable[String], bit: Int): Unit = names.foreach { nm =>
      val id = HtmlTokenizer.nameId(nm)
      require(id >= 0, s"element name '$nm' has no canonical id")
      f(id) |= bit
    }
    mark(MainContent.skipElems, Skip)
    mark(Seq("a"), A)
    mark(MainContent.blockElems + "br", Flush)
    mark(TagTree.voidElems, Void)
    f
  }

  // Python str.isspace() over chars; none lies in (' ', 0x85)
  private val lowSpace: Array[Boolean] = Array.tabulate(33)(c => UnicodeTables.isPySpace(c))

  /** Neither a Python space nor `&`: copied through by the collapse. */
  @inline private def plain(c: Char): Boolean = c > '&' && c < 0x85

  @inline private def isSpace(c: Char): Boolean =
    if (c <= ' ') lowSpace(c) else c >= 0x85 && UnicodeTables.isPySpace(c)
}
