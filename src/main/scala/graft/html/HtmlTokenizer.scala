package graft.html

/** Allocation-light streaming HTML tokenizer.
  *
  * Re-expresses the tokenization behavior the reference gets from
  * Python's `html.parser` (with `convert_charrefs=True`): lowercased
  * tag/attribute names, entity decoding inside text and attribute
  * values (named + numeric char refs), comments surfaced as events,
  * `script`/`style` treated as raw-text elements, and tolerance of
  * malformed markup (stray `<` becomes text; unterminated constructs
  * consume to EOF without throwing). cf. reference base_parser.py:22-82.
  *
  * Pure function of the decoded string — no Spark dependency, safe to
  * run per-row inside `mapPartitions`.
  */
object HtmlTokenizer {

  trait Sink {
    /** `attrNames`/`attrValues` are null when the tag has no attributes;
      * when non-null they are freshly allocated (safe to keep).
      */
    def startTag(name: String, attrNames: Array[String],
                 attrValues: Array[String], selfClosing: Boolean): Unit
    def endTag(name: String): Unit
    def text(t: String): Unit
    def comment(t: String): Unit

    /** False when the sink reads no attribute: the tokenizer then scans
      * past attributes without building their names or values, and
      * `startTag` always receives null arrays.
      */
    def wantsAttrs: Boolean = true

    /** The tag callbacks the tokenizer makes. `id` is the name's index in
      * the canonical name table (`nameId`), -1 for any other name; the
      * defaults drop it.
      */
    def startTag(id: Int, name: String, attrNames: Array[String],
                 attrValues: Array[String], selfClosing: Boolean): Unit =
      startTag(name, attrNames, attrValues, selfClosing)
    def endTag(id: Int, name: String): Unit = endTag(name)

    /** The text callback the tokenizer makes: the text is
      * `src[from, until)`, still entity-encoded unless `raw` (the content
      * of a raw-text element, which is never decoded). The default copies
      * it out, decoded, for `text`.
      */
    def textSpan(src: String, from: Int, until: Int, raw: Boolean): Unit = {
      val t = src.substring(from, until)
      text(if (raw) t else unescape(t))
    }
  }

  /** Canonical interned names for the hot path: tag/attr names resolve
    * to shared constants by one exact-key table probe — zero allocation
    * for every common tag (`substring` + `toLowerCase` per tag otherwise
    * dominates tokenizer garbage). A name's index here is its id.
    */
  private val canonicalNames: Array[String] = Array(
    "a", "abbr", "address", "area", "article", "aside", "b", "base",
    "blockquote", "body", "br", "button", "caption", "center", "code", "col",
    "dd", "div", "dl", "dt", "em", "embed", "fieldset", "figcaption",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "header", "hr", "html", "i", "iframe", "img", "input", "label", "li",
    "link", "main", "meta", "nav", "noscript", "ol", "option", "p", "param",
    "path", "pre", "script", "section", "select", "small", "source", "span",
    "strong", "style", "sub", "sup", "svg", "table", "tbody", "td",
    "template", "textarea", "tfoot", "th", "thead", "time", "title", "tr",
    "track", "u", "ul", "wbr",
    // common attribute names share the table
    "alt", "charset", "class", "content", "height", "href", "id", "lang",
    "name", "property", "rel", "src", "type", "valign", "value", "width")

  /** Number of canonical names: every id is in `[0, NameCount)`. */
  val NameCount: Int = canonicalNames.length

  // A name of at most MaxNameLen letters and digits packs losslessly into
  // a Long, 6 bits a char, case folded: letters 1-26, digits 27-36. Every
  // canonical name packs, so a name that does not is not canonical.
  private final val MaxNameLen = 10
  private val packCode: Array[Byte] = Array.tabulate[Byte](128) { i =>
    val c = i.toChar
    if (c >= 'a' && c <= 'z') (c - 'a' + 1).toByte
    else if (c >= 'A' && c <= 'Z') (c - 'A' + 1).toByte
    else if (c >= '0' && c <= '9') (c - '0' + 27).toByte
    else 0
  }

  /** Packed key of `s[start, end)`, or -1 when it does not pack. */
  private def packName(s: String, start: Int, end: Int): Long = {
    if (end - start > MaxNameLen) return -1L
    var key = 0L
    var k = start
    while (k < end) {
      val c = s.charAt(k)
      val p = if (c < 128) packCode(c) else 0
      if (p == 0) return -1L
      key = (key << 6) | p
      k += 1
    }
    key
  }

  // open-addressed table from packed key to id, at most half full
  private final val TableBits = 8
  private val tableKeys = new Array[Long](1 << TableBits)
  private val tableIds = Array.fill(1 << TableBits)(-1)
  private def slotOf(key: Long): Int = ((key * 0x9E3779B97F4A7C15L) >>> (64 - TableBits)).toInt
  canonicalNames.indices.foreach { id =>
    val key = packName(canonicalNames(id), 0, canonicalNames(id).length)
    require(key > 0 && canonicalNames.length * 2 <= tableIds.length)
    var slot = slotOf(key)
    while (tableIds(slot) >= 0) slot = (slot + 1) & (tableIds.length - 1)
    tableKeys(slot) = key
    tableIds(slot) = id
  }

  /** Id of the name `s[start, end)` matched case-insensitively, or -1. */
  private def canonIdx(s: String, start: Int, end: Int): Int = {
    val key = packName(s, start, end)
    if (key <= 0) return -1
    var slot = slotOf(key)
    while (tableIds(slot) >= 0 && tableKeys(slot) != key) slot = (slot + 1) & (tableIds.length - 1)
    tableIds(slot)
  }

  /** Id of a lowercase name, or -1 when it is not a canonical name. */
  def nameId(name: String): Int = {
    val id = canonIdx(name, 0, name.length)
    if (id >= 0 && canonicalNames(id) == name) id else -1
  }

  /** Lowercased name of html[start,end) given its id — the interned
    * constant when the name is common, a fresh lowercase string otherwise.
    */
  private def nameOf(id: Int, html: String, start: Int, end: Int): String =
    if (id >= 0) canonicalNames(id)
    else html.substring(start, end).toLowerCase(java.util.Locale.ROOT)

  private val ScriptId = nameId("script")
  private val StyleId = nameId("style")

  private val namedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "sect" -> "§", "para" -> "¶",
    "middot" -> "·", "bull" -> "•", "deg" -> "°",
    "plusmn" -> "±", "times" -> "×", "divide" -> "÷",
    "frac12" -> "½", "frac14" -> "¼", "frac34" -> "¾",
    "cent" -> "¢", "pound" -> "£", "euro" -> "€",
    "yen" -> "¥", "iexcl" -> "¡", "iquest" -> "¿",
    "szlig" -> "ß",
    // Latin-1 accented letters (both cases) — the set html.parser knows
    // that matters for pt-BR / Latin-script corpora.
    "Agrave" -> "À", "Aacute" -> "Á", "Acirc" -> "Â",
    "Atilde" -> "Ã", "Auml" -> "Ä", "Aring" -> "Å",
    "AElig" -> "Æ", "Ccedil" -> "Ç", "Egrave" -> "È",
    "Eacute" -> "É", "Ecirc" -> "Ê", "Euml" -> "Ë",
    "Igrave" -> "Ì", "Iacute" -> "Í", "Icirc" -> "Î",
    "Iuml" -> "Ï", "Ntilde" -> "Ñ", "Ograve" -> "Ò",
    "Oacute" -> "Ó", "Ocirc" -> "Ô", "Otilde" -> "Õ",
    "Ouml" -> "Ö", "Oslash" -> "Ø", "Ugrave" -> "Ù",
    "Uacute" -> "Ú", "Ucirc" -> "Û", "Uuml" -> "Ü",
    "Yacute" -> "Ý", "agrave" -> "à", "aacute" -> "á",
    "acirc" -> "â", "atilde" -> "ã", "auml" -> "ä",
    "aring" -> "å", "aelig" -> "æ", "ccedil" -> "ç",
    "egrave" -> "è", "eacute" -> "é", "ecirc" -> "ê",
    "euml" -> "ë", "igrave" -> "ì", "iacute" -> "í",
    "icirc" -> "î", "iuml" -> "ï", "ntilde" -> "ñ",
    "ograve" -> "ò", "oacute" -> "ó", "ocirc" -> "ô",
    "otilde" -> "õ", "ouml" -> "ö", "oslash" -> "ø",
    "ugrave" -> "ù", "uacute" -> "ú", "ucirc" -> "û",
    "uuml" -> "ü", "yacute" -> "ý", "yuml" -> "ÿ")

  /** Decode `&name;`, `&#NNN;`, `&#xHH;` refs; unknown refs pass through
    * verbatim (html.parser leaves unrecognized refs as-is).
    */
  def unescape(s: String): String = {
    if (s == null || s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val semi = if (c == '&') refEnd(s, i, n) else -1
      val cp = if (semi < 0) -1 else refCodePoint(s, i + 1, semi)
      if (cp >= 0) { sb.appendCodePoint(cp); i = semi + 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Index of the `;` closing the ref that starts with `&` at `amp`, or
    * -1 when there is none within 32 chars and before `until`.
    */
  private[graft] def refEnd(s: String, amp: Int, until: Int): Int = {
    val last = math.min(amp + 32, until - 1)
    var k = amp + 1
    while (k <= last && s.charAt(k) != ';') k += 1
    if (k <= last) k else -1
  }

  /** Code point of the ref whose body is `s[from, semi)` (between `&`
    * and `;`), or -1 when the ref does not decode and stays verbatim.
    */
  private[graft] def refCodePoint(s: String, from: Int, semi: Int): Int =
    if (from < semi && s.charAt(from) == '#') {
      val hex = from + 1 < semi && (s.charAt(from + 1) | 0x20) == 'x'
      val cp = if (hex) parseInt(s, from + 2, semi, 16) else parseInt(s, from + 1, semi, 10)
      if (Character.isValidCodePoint(cp)) cp else -1
    } else {
      val len = semi - from
      // the refs `escape` writes, without a substring and a hash lookup
      if (len == 2 && s.charAt(from + 1) == 't' && s.charAt(from) == 'l') '<'
      else if (len == 2 && s.charAt(from + 1) == 't' && s.charAt(from) == 'g') '>'
      else if (len == 3 && s.startsWith("amp", from)) '&'
      else {
        // every named value is a single char
        val v = namedEntities.getOrElse(s.substring(from, semi), null)
        if (v == null) -1 else v.charAt(0)
      }
    }

  /** `Integer.parseInt(s.substring(from, until), radix)` without the
    * copy, and -1 where that throws (every caller drops negative values
    * as invalid code points). Same grammar: one optional `+`/`-`, then
    * at least one `Character.digit` digit (so Unicode and fullwidth
    * digits count), and int overflow fails.
    */
  private def parseInt(s: String, from: Int, until: Int, radix: Int): Int = {
    if (from >= until) return -1
    var i = from
    var negative = false
    var limit = -Int.MaxValue
    val first = s.charAt(i)
    if (first < '0') {
      if (first == '-') { negative = true; limit = Int.MinValue }
      else if (first != '+') return -1
      if (until - from == 1) return -1
      i += 1
    }
    // accumulate negatively, as parseInt does, so MinValue fits
    val multmin = limit / radix
    var result = 0
    while (i < until) {
      val d = Character.digit(s.charAt(i), radix)
      if (d < 0 || result < multmin) return -1
      result *= radix
      if (result < limit + d) return -1
      result -= d
      i += 1
    }
    if (negative) result else -result
  }

  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ASCII char classes: name start, name char, Character.isWhitespace
  private final val CNameStart = 1
  private final val CName = 2
  private final val CWs = 4
  private val asciiClass: Array[Byte] = Array.tabulate[Byte](128) { i =>
    val c = i.toChar
    var k = 0
    if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) k |= CNameStart | CName
    if ((c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':' || c == '.') k |= CName
    if (Character.isWhitespace(c)) k |= CWs
    k.toByte
  }

  @inline private def isNameStart(c: Char): Boolean = c < 128 && (asciiClass(c) & CNameStart) != 0

  @inline private def isNameChar(c: Char): Boolean = c < 128 && (asciiClass(c) & CName) != 0

  @inline private def isWs(c: Char): Boolean =
    if (c < 128) (asciiClass(c) & CWs) != 0 else Character.isWhitespace(c)

  private def flushText(sink: Sink, html: String, from: Int, until: Int): Unit =
    if (until > from) sink.textSpan(html, from, until, raw = false)

  /** Tokenize `html` into `sink`. Never throws on malformed input. */
  def tokenize(html: String, sink: Sink): Unit = {
    val n = html.length
    val attrs = sink.wantsAttrs
    var i = 0
    var textStart = 0
    // per-call attr scratch (grown on demand, copied out per tag)
    var scratchN: Array[String] = null
    var scratchV: Array[String] = null

    while (i < n) {
      // markup is dense in tags: the next '<' is often the very next char
      val lt = if (html.charAt(i) == '<') i else html.indexOf('<', i)
      if (lt < 0) { i = n }
      else if (lt + 1 >= n) { i = n }
      else {
        val c1 = html.charAt(lt + 1)
        if (c1 == '!') {
          if (html.startsWith("<!--", lt)) {
            flushText(sink, html, textStart, lt)
            val close = html.indexOf("-->", lt + 4)
            val end = if (close < 0) n else close
            sink.comment(html.substring(lt + 4, end))
            i = if (close < 0) n else close + 3
            textStart = i
          } else {
            // doctype / CDATA-ish declaration: skip to '>'
            flushText(sink, html, textStart, lt)
            val close = html.indexOf('>', lt + 2)
            i = if (close < 0) n else close + 1
            textStart = i
          }
        } else if (c1 == '?') {
          flushText(sink, html, textStart, lt)
          val close = html.indexOf('>', lt + 2)
          i = if (close < 0) n else close + 1
          textStart = i
        } else if (c1 == '/') {
          var j = lt + 2
          val nameStart = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          if (j == nameStart) { i = lt + 1 } // "</" not a tag: keep as text
          else {
            flushText(sink, html, textStart, lt)
            val id = canonIdx(html, nameStart, j)
            val name = nameOf(id, html, nameStart, j)
            val close = if (j < n && html.charAt(j) == '>') j else html.indexOf('>', j)
            i = if (close < 0) n else close + 1
            sink.endTag(id, name)
            textStart = i
          }
        } else if (isNameStart(c1)) {
          // start tag
          var j = lt + 1
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val id = canonIdx(html, lt + 1, j)
          val name = nameOf(id, html, lt + 1, j)
          var nAttrs = 0
          var selfClosing = false
          var done = false
          var broken = false
          while (!done && j < n) {
            while (j < n && isWs(html.charAt(j))) j += 1
            if (j >= n) { broken = true; done = true }
            else {
              val cj = html.charAt(j)
              if (cj == '>') { j += 1; done = true }
              else if (cj == '/' && j + 1 < n && html.charAt(j + 1) == '>') {
                selfClosing = true; j += 2; done = true
              } else if (isNameChar(cj)) {
                val as = j
                while (j < n && isNameChar(html.charAt(j))) j += 1
                val ae = j
                while (j < n && isWs(html.charAt(j))) j += 1
                // value span [vs, ve); vs < 0 when the attribute has no value
                var vs = -1
                var ve = -1
                if (j < n && html.charAt(j) == '=') {
                  j += 1
                  while (j < n && isWs(html.charAt(j))) j += 1
                  if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                    val q = html.charAt(j)
                    vs = j + 1
                    ve = html.indexOf(q, vs)
                    if (ve < 0) { ve = n; j = n; broken = true; done = true }
                    else j = ve + 1
                  } else {
                    vs = j
                    while (j < n && !isWs(html.charAt(j)) &&
                      html.charAt(j) != '>' && html.charAt(j) != '/') j += 1
                    ve = j
                  }
                }
                if (attrs) {
                  if (scratchN == null) {
                    scratchN = new Array[String](8)
                    scratchV = new Array[String](8)
                  } else if (nAttrs == scratchN.length) {
                    scratchN = java.util.Arrays.copyOf(scratchN, nAttrs * 2)
                    scratchV = java.util.Arrays.copyOf(scratchV, nAttrs * 2)
                  }
                  scratchN(nAttrs) = nameOf(canonIdx(html, as, ae), html, as, ae)
                  scratchV(nAttrs) = if (vs < 0) "" else unescape(html.substring(vs, ve))
                  nAttrs += 1
                }
              } else {
                j += 1 // junk char inside tag: skip
              }
            }
          }
          if (broken && j >= n && !done) { i = n }
          flushText(sink, html, textStart, lt)
          if (nAttrs == 0) sink.startTag(id, name, null, null, selfClosing)
          else sink.startTag(id, name, java.util.Arrays.copyOf(scratchN, nAttrs),
            java.util.Arrays.copyOf(scratchV, nAttrs), selfClosing)
          i = j
          textStart = i
          // raw-text elements: consume to the matching close tag verbatim
          if (!selfClosing && (id == ScriptId || id == StyleId)) {
            val needle = if (id == ScriptId) "</script" else "</style"
            var closeIdx = -1
            var k = i
            // jump between '<' occurrences instead of probing every char
            while (closeIdx < 0 && k <= n - needle.length) {
              val lt2 = html.indexOf('<', k)
              if (lt2 < 0 || lt2 > n - needle.length) k = n
              else if (html.regionMatches(true, lt2, needle, 0, needle.length)) closeIdx = lt2
              else k = lt2 + 1
            }
            val end = if (closeIdx < 0) n else closeIdx
            if (end > i) sink.textSpan(html, i, end, raw = true)
            if (closeIdx < 0) { i = n } else {
              val gt = html.indexOf('>', closeIdx)
              i = if (gt < 0) n else gt + 1
            }
            sink.endTag(id, name)
            textStart = i
          }
        } else {
          // stray '<' — treat as text, continue after it
          i = lt + 1
        }
      }
    }
    flushText(sink, html, textStart, n)
  }
}
