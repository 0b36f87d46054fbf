package graftbench

import graft.pipeline.ExtractPipeline
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  /** Expected and extracted `(url, md5)` rows of `n` web pages. */
  private def webRows(seed: Long, n: Int) = {
    val fixtures = (0 until n).map(WebScan.gen(seed))
    val expected = fixtures.map(f => (f.page.url, Gate.md5Hex(f.expectedText)))
    val got = fixtures.map { f =>
      val d = ExtractPipeline.extractOne(f.page, "utf-8")
      (d.url, d.text, d.parse_ok)
    }
    (fixtures, expected, got)
  }

  private def digested(got: Seq[(String, String, Boolean)]) =
    got.map { case (u, t, ok) => (u, Gate.md5Hex(t), ok) }

  test("the web gate passes the kernel's output and catches a one-byte change in one doc") {
    val (_, expected, got) = webRows(11, 40)
    val clean = Gate.digests("url", expected, digested(got))
    assert(clean.ok && clean.attempted == 40 && clean.failed == 0)

    val (u, t, ok) = got(17)
    val flipped = t.updated(t.length / 2, (t(t.length / 2) ^ 1).toChar)
    val broken = Gate.digests("url", expected, digested(got.updated(17, (u, flipped, ok))))
    assert(broken.failed == 1 && !broken.ok)
    assert(broken.notes.exists(_.contains(u)))
  }

  test("a parse failure, a duplicate and an unexpected row all fail") {
    val (_, expected, got) = webRows(12, 10)
    val rows = digested(got)
    assert(Gate.digests("url", expected, rows.updated(3, rows(3).copy(_3 = false))).failed == 1)
    assert(Gate.digests("url", expected, rows :+ rows(4)).failed == 2)
    val extra = Gate.digests("url", expected, rows :+ (("x://nowhere", "00", true)))
    assert(extra.failed == 1 && extra.attempted == 11)
  }

  test("the report gate catches a missing report") {
    val expected = (1 to 5).map(i => (s"R$i", Gate.md5Hex(s"json $i")))
    val got = expected.map { case (r, d) => (r, d, true) }
    assert(Gate.digests("report", expected, got).ok)
    val missing = Gate.digests("report", expected, got.filterNot(_._1 == "R3"))
    assert(missing.failed == 1 && missing.notes == Seq("report R3: missing"))
  }

  test("the dedup prefix gate catches a wrong digest") {
    val docs = (0L to 40L).map(i => i -> CorpusDedup.textOf(3)(i))
    val brute = Gate.BruteDedup.span(docs)
    val got = brute.toSeq.map { case (id, (n, d)) => (id, n, d) }
    assert(Gate.dedupPrefix("span doc", brute, got).ok)
    val wrong = got.map { case (id, n, d) => if (id == 9L) (id, n, Gate.md5Hex("other")) else (id, n, d) }
    val g = Gate.dedupPrefix("span doc", brute, wrong)
    assert(g.failed == 1 && g.notes == Seq("span doc 9: digest differs"))
  }

  test("brute-force dedup removes repeated spans and paragraphs") {
    val a = "a b c d e f g h i j"
    val docs = Seq(0L -> a, 1L -> ("x " + a), 2L -> "y z")
    val span = Gate.BruteDedup.span(docs)
    assert(span(0L)._1 == 0)
    assert(span(1L)._1 == 10) // both 8-grams of doc 0 repeat: "x" alone survives
    assert(span(1L)._2 == Gate.md5Hex("x"))
    val para = Gate.BruteDedup.para(docs)
    // doc 0 carries the header (doc_id % 7 == 0), every doc the footer
    assert(para(0L)._1 == 3 && para(1L)._1 == 1 && para(2L)._1 == 1)
  }

  test("reps that threw or disagree with the gate fail all of their items") {
    val g = Gate.repsAgree("w", Seq(Some("f"), None, Some("g"), Some("f")), "f", 100)
    assert(g.attempted == 400 && g.failed == 200)
    assert(Gate.repsAgree("w", Seq(Some("f")), "f", 100).ok)
  }

  test("a second seed changes the input digest and still passes the gate") {
    def inputDigest(fx: Seq[graft.fixtures.WebCorpus.Fixture]) =
      Gate.md5Hex(fx.map(f => Gate.md5Hex(new String(f.page.html, "UTF-8"))).mkString)
    val (fx1, exp1, got1) = webRows(1, 30)
    val (fx2, exp2, got2) = webRows(2, 30)
    assert(inputDigest(fx1) != inputDigest(fx2))
    assert(Gate.digests("url", exp1, digested(got1)).ok)
    assert(Gate.digests("url", exp2, digested(got2)).ok)
  }
}
