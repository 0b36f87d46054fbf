package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{HtmlTokenizer, TagTree}
import graft.text.TextOps
import scala.util.Random

class HtmlSpec extends AnyFunSuite {

  test("tokenizer: basic tags, attrs, entities, comments") {
    val t = TagTree.parse(
      """<html><body><p class="a b" id='x'>Hello &amp; &lt;world&gt; &#233; &#xE9;</p>
        |<!--note--><br><img src="i.png"/></body></html>""".stripMargin)
    val p = t.findElem(0, t.size, "p")
    assert(p >= 0)
    assert(t.attr(p, "class") == "a b")
    assert(t.attr(p, "id") == "x")
    assert(t.hasClass(p, "b"))
    assert(t.textStrip(p) == "Hello & <world> é é")
    val comments = t.findAll(0, t.size)(t.isComment)
    assert(comments.nonEmpty && t.text(comments.head) == "note")
  }

  test("tokenizer: script/style raw text is not parsed as tags") {
    val t = TagTree.parse("<body><script>if (a<b && c>d) {}</script><p>x</p></body>")
    val scripts = t.findAll(0, t.size)(k => t.isElem(k) && t.name(k) == "script")
    assert(scripts.size == 1)
    assert(t.textRaw(scripts.head) == "if (a<b && c>d) {}")
    assert(t.findElem(0, t.size, "p") >= 0)
  }

  test("tokenizer: unterminated constructs never throw") {
    val cases = Seq("<", "<a", "<a href=", "<a href='x", "<!-- open", "</", "<p>text",
      "a < b", "<SCRIPT>x", "&#xZZ; &unknown; &amp")
    cases.foreach { c => TagTree.parse(c) } // must not throw
    val t = TagTree.parse("a < b")
    assert(t.textStrip(0).nonEmpty || t.size >= 1)
  }

  test("tokenizer: unknown entity passes through verbatim") {
    assert(HtmlTokenizer.unescape("&unknown; &amp; &#65;") == "&unknown; & A")
  }

  test("nbsp entity decodes to U+00A0 and stripPy strips it") {
    val t = TagTree.parse("<td>&nbsp;x&nbsp;</td>")
    val td = t.findElem(0, t.size, "td")
    assert(t.textRaw(td) == " x ")
    assert(t.textStrip(td) == "x")
  }

  test("tag tree: subtree spans, ancestors, stray end tags") {
    val t = TagTree.parse("<div><span>a</span></extra></div><p>b</p>")
    val div = t.findElem(0, t.size, "div")
    val span = t.findElem(0, t.size, "span")
    assert(t.isAncestor(div, span))
    val p = t.findElem(0, t.size, "p")
    assert(!t.isAncestor(div, p))
    assert(t.textStrip(div) == "a")
  }

  test("get_text(strip=True) parity: no separator, empties dropped") {
    val t = TagTree.parse("<div> a <b> b </b>\n<i>  </i>c</div>")
    val div = t.findElem(0, t.size, "div")
    assert(t.textStrip(div) == "abc")
  }

  test("tokenizer never throws on arbitrary strings (property)") {
    val rnd = new Random(7)
    val alphabet = "<>/&;=\"' abc#!-?\n\tX\u00e9\u00a0"
    for (_ <- 0 until 500) {
      val s = (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      TagTree.parse(s) // must not throw
    }
    succeed
  }

  test("escape/unescape roundtrip (property)") {
    val rnd = new Random(11)
    val alphabet = "a&<> \u00e9 z;#\u00a0"
    for (_ <- 0 until 500) {
      val s = (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(HtmlTokenizer.unescape(HtmlTokenizer.escape(s)) == s)
    }
  }

  /** `unescape` as it was with `Integer.parseInt`: the oracle for the
    * copy-free numeric-ref parser.
    */
  private def unescapeOracle(s: String): String = {
    if (s == null || s.indexOf('&') < 0) return s
    val named = Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "nbsp" -> "\u00a0")
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val semi = if (c == '&') s.indexOf(';', i + 1) else -1
      val decoded: String =
        if (semi > i && semi - i <= 32) {
          val body = s.substring(i + 1, semi)
          def num(digits: String, radix: Int): String =
            try {
              val cp = Integer.parseInt(digits, radix)
              if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else null
            } catch { case _: NumberFormatException => null }
          if (body.startsWith("#x") || body.startsWith("#X")) num(body.substring(2), 16)
          else if (body.startsWith("#")) num(body.substring(1), 10)
          else named.getOrElse(body, null)
        } else null
      if (decoded != null) { sb.append(decoded); i = semi + 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  test("numeric refs: exactly what Integer.parseInt accepts, overflow verbatim") {
    val pinned = Seq(
      "&#x+41;" -> "A", "&#-0;" -> "\u0000", "&#\u0661\u0662\u0663;" -> "{",
      "&#x\uff21;" -> "\n", "&#99999999999;" -> "&#99999999999;", "&#x;" -> "&#x;",
      "&#;" -> "&#;", "&#-5;" -> "&#-5;", "&#+;" -> "&#+;", "&#X1F600;" -> "\ud83d\ude00",
      "&#2147483647;" -> "&#2147483647;", "&#-2147483648;" -> "&#-2147483648;",
      "&#x110000;" -> "&#x110000;", "&#x10FFFF;" -> "\udbff\udfff")
    pinned.foreach { case (in, out) =>
      assert(HtmlTokenizer.unescape(in) == out, in)
      assert(unescapeOracle(in) == out, in)
    }
    val rnd = new Random(13)
    val alphabet = "&#;xX+-0123456789aAfFgG\u0661\uff21\uff41\uff10 "
    for (_ <- 0 until 20000) {
      val s = (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(HtmlTokenizer.unescape(s) == unescapeOracle(s), s)
    }
  }
}

class TextOpsSpec extends AnyFunSuite {
  test("findBestMatch: exact, containment+prefix bonus, word overlap, threshold") {
    assert(TextOps.findBestMatch("Receita", Seq("Receita")) == Some("Receita"))
    // containment: target 8/9 chars of candidate, startswith → +0.5
    assert(TextOps.findBestMatch("Receitas", Seq("Receitass")) == Some("Receitass"))
    // below threshold
    assert(TextOps.findBestMatch("abc", Seq("zzzzzzzzzzzz")) == None)
    // word overlap 2/2 = 1.0
    assert(TextOps.findBestMatch("total vendas", Seq("vendas total")) == Some("vendas total"))
    // accent/case-insensitive exact
    assert(TextOps.findBestMatch("métrica", Seq("METRICA")) == Some("METRICA"))
    assert(TextOps.findBestMatch("", Seq("x")) == None)
    assert(TextOps.findBestMatch("x", Nil) == None)
  }

  test("compareTexts sensitivity modes") {
    assert(TextOps.compareTexts("Métrica", "metrica"))
    assert(!TextOps.compareTexts("Métrica", "metrica", caseSensitive = true))
    assert(TextOps.compareTexts("MÉTRICA", "métrica", accentSensitive = true))
    assert(!TextOps.compareTexts("a", ""))
    assert(TextOps.compareTexts("", ""))
  }

  test("formula whitespace cleanup (metric_parser.py:226-228 rule)") {
    assert(TextOps.cleanFormulaWhitespace("Sum ( Receita )  /  Count( X )") ==
      "Sum (Receita)/ Count (X)")
    assert(TextOps.cleanFormulaWhitespace("a\n\t b") == "a b")
  }

  test("fixCommonAccents literal replacements") {
    assert(TextOps.fixCommonAccents("Ms Atual") == "Mês Atual")
    assert(TextOps.fixCommonAccents("Lderes") == "Líderes")
    assert(TextOps.fixCommonAccents("") == "")
  }

  test("collapseWs: python whitespace set, single-space join") {
    assert(TextOps.collapseWs("  a  b\t\nc  ") == "a b c")
    assert(TextOps.collapseWs(" ") == "")
  }

  test("decode rules: latin-1 1:1, utf-8 with replacement") {
    val bytes = Array[Byte](0x4d.toByte, 0xea.toByte, 0x73.toByte) // "Mês" in Latin-1
    assert(TextOps.decodeLatin1(bytes) == "Mês")
    val bad = Array[Byte](0x61, 0xff.toByte, 0x62)
    assert(TextOps.decodeUtf8Replace(bad) == "a�b")
  }

  test("findAnchor index: first-match-in-document-order scan semantics") {
    import graft.mstr.Soup
    val s = Soup.parse(
      "<html><body>" +
        "<a href='x.html'>no name attr</a>" +
        "<a name=''>empty name</a>" +
        "<a name='dup'>first dup</a>" +
        "<table><tr><td><a name='nested'>in table</a></td></tr></table>" +
        "<a name='dup'>second dup</a>" +
        "</body></html>")
    // reference scan semantics the lazy index must reproduce exactly:
    def scan(nm: String): Int =
      s.t.findFirst(0, s.n)(i =>
        s.t.isElem(i) && s.t.name(i) == "a" && s.t.attr(i, "name") == nm)
    for (nm <- Seq("dup", "nested", "", "missing")) {
      assert(s.findAnchor(nm) == scan(nm), s"anchor '$nm'")
    }
    // duplicate names resolve to the FIRST occurrence (first-put-wins)
    assert(s.textStrip(s.findAnchor("dup")) == "first dup")
    assert(s.findAnchor("missing") == -1)
    // repeated lookups (index path) agree with the first (build) call
    assert(s.findAnchor("dup") == scan("dup"))
  }
}
