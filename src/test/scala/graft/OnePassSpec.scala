package graft

import graft.extract.MainContent
import graft.extract.MainContent.ExtractStats
import graft.fixtures.WebCorpus
import graft.html.TagTree
import graft.pipeline.ExtractPipeline
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The one-pass kernel behind `MainContent.extractWithStats` against the
  * tree oracle: `segment(TagTree.parse(h))` + `classify`, kept blocks
  * joined by '\n'. Text and block counts must be identical.
  */
class OnePassSpec extends AnyFunSuite {

  private def oracle(h: String): (String, ExtractStats) = {
    val blocks = MainContent.segment(TagTree.parse(h))
    val keep = MainContent.classify(blocks)
    val kept = blocks.indices.filter(keep).map(blocks(_).text)
    val text = kept.mkString("\n")
    (text, ExtractStats(blocks.length, kept.length, h.length, text.length))
  }

  private def assertSame(h: String): Unit = {
    val got = MainContent.extractWithStats(h)
    val want = oracle(h)
    if (got != want) fail(s"one-pass $got != oracle $want on input ${h.map(c => f"\\u${c.toInt}%04x").mkString}")
    assert(MainContent.extractText(h) == want._1)
  }

  // tags and text pieces that stress the stack rules, skip and link
  // scopes, entities and every Python/Java whitespace corner
  private val tagPieces = Array(
    "<a>", "</a>", "<a/>", "<a href=\"x&amp;y\">", "<A HREF=z>", "<script>", "<script/>",
    "</script>", "<style>", "</style>", "<head>", "</head>", "<noscript>", "</noscript>",
    "<template>", "</template>", "<p>", "</p>", "<P>", "<div>", "</div>", "<br>", "<br/>",
    "</br>", "<li>", "</li>", "<td>", "<span>", "</span>", "<custom-el>", "</custom-el>",
    "<X-Y z=1>", "</x-y>", "<img src=x>", "<img/>", "</img>", "<DIV class='q'>", "<!-- c -->",
    "<!-- <p>x</p> -->", "<!doctype html>", "<?xml v?>", "</>", "<", "< p>", "</ p>",
    "<a href=\"open", "<p id=x/>", "<body>", "</body>", "<html>", "<title>", "</title>",
    "<h1>", "</h1>", "</table>", "<input disabled>", "<wbr>", "<area>", "<hr>", "<main>",
    "<p\u00a0class=x>", "<a\u2003href=y>", "<p\u3000>", "<div\tid=\"a b\">", "</div\u2003>",
    "<nav>", "<ul>", "<!--", "<td colspan=2/>", "<span a=\"1\" b='2' c=3 d>")
  private val textPieces = Array(
    "word", "two words", " lead", "trail ", "  ", "\t\n", "&nbsp;", "&#160;", "&#x2003;",
    "&amp;", "&lt;b&gt;", "&unknown;", "&#65;", "&#x1F600;", "&#x+41;", "&#-0;", "&#;",
    "&#99999999999;", "\ud83d\ude00", "\ud800", "\udc00", "\u2003", "\u3000", "\u00a0",
    "\u0085", "\u200b", "\u001c", "&", ";", "a&b", "x y  z", "\u00e7\u00e3o", ">", "=", "'")

  private def soup(rnd: Random): String = {
    val sb = new java.lang.StringBuilder
    val n = rnd.nextInt(24)
    var k = 0
    while (k < n) {
      if (rnd.nextInt(5) < 2) sb.append(tagPieces(rnd.nextInt(tagPieces.length)))
      else sb.append(textPieces(rnd.nextInt(textPieces.length)))
      k += 1
    }
    sb.toString
  }

  test("random tag soup: one-pass equals the tree oracle on 120k strings") {
    val rnd = new Random(20261017L)
    (1 to 120000).foreach(_ => assertSame(soup(rnd)))
  }

  test("WebCorpus pages, giants included, and every 13-char truncation, under utf-8 and latin-1") {
    val full = WebCorpus.generate(60, seed = 7L, giantEvery = 20)
    val small = WebCorpus.generate(24, seed = 11L, giantEvery = 8, giantParagraphs = 60)
    Seq("utf-8", "latin-1").foreach { cs =>
      full.foreach(f => assertSame(ExtractPipeline.decode(f.page.html, cs)))
      small.foreach { f =>
        val h = ExtractPipeline.decode(f.page.html, cs)
        (0 to h.length by 13).foreach(cut => assertSame(h.substring(0, cut)))
      }
    }
    // and the golden text of every untruncated page
    full.foreach { f =>
      assert(MainContent.extractText(ExtractPipeline.decode(f.page.html, "utf-8")) == f.expectedText)
    }
  }

  test("buffer reuse: a giant page then small pages on one thread, and 4 threads at once") {
    val giant = WebCorpus.generateOne(0, seed = 3L, giantEvery = 1, giantParagraphs = 3000)
    val pages = WebCorpus.generate(200, seed = 5L, giantEvery = 0).map(_.page) :+ giant.page
    val htmls = pages.map(p => ExtractPipeline.decode(p.html, "utf-8"))
    val want = htmls.map(oracle)
    val giantHtml = htmls.last
    assert(MainContent.extractWithStats(giantHtml) == want.last)
    htmls.zip(want).foreach { case (h, w) => assert(MainContent.extractWithStats(h) == w) }
    assert(MainContent.extractWithStats(giantHtml) == want.last)

    val failures = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 3).foreach { round =>
          // each thread walks the pages from its own offset, giant included
          htmls.indices.foreach { k =>
            val i = (k + t * 50 + round * 7) % htmls.length
            if (MainContent.extractWithStats(htmls(i)) != want(i)) failures.incrementAndGet()
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.get == 0)
  }
}
