package graftbench

import graft.extract.MainContent
import graft.html.TagTree
import graft.mstr.Soup
import graft.pipeline.{ExtractPipeline, PageRow}
import graft.text.TextOps

/** Single-thread replay of the extraction kernel, layer by layer.
  *
  * Each page is decoded, parsed, segmented and classified in turn, with
  * a fresh tree per page and only one tree alive at a time; the same page
  * then goes once through the whole `ExtractPipeline.extractOne`. Pages
  * alternate which of the two goes first, so neither always finds the
  * bytes in cache. Every figure is the median over several passes.
  */
object Kernel {

  final case class Layers(kb: Double, docs: Int, decodeNs: Double, parseNs: Double,
                          segmentNs: Double, classifyNs: Double, wholeNs: Double,
                          nodes: Long, blocks: Long) {
    private def perKb(ns: Double) = Stats.ratio(ns, kb)
    def asMetrics: Map[String, Double] = Map(
      "text.decode_ns_per_kb" -> perKb(decodeNs),
      "html.parse_ns_per_kb" -> perKb(parseNs),
      "html.nodes_per_kb" -> Stats.ratio(nodes.toDouble, kb),
      "extract.segment_ns_per_kb" -> perKb(segmentNs),
      "extract.classify_ns_per_kb" -> perKb(classifyNs),
      "extract.blocks_per_doc" -> Stats.ratio(blocks.toDouble, docs.toDouble),
      "extract.kernel_ns_per_kb" -> perKb(wholeNs),
      // reconciliation: the share of the whole kernel no layer accounts for
      "extract.unexplained_frac" ->
        (1.0 - Stats.ratio(decodeNs + parseNs + segmentNs + classifyNs, wholeNs)))
  }

  @volatile private var sink = 0L

  private def pass(pages: Seq[PageRow]): Array[Long] = {
    val acc = new Array[Long](7) // decode, parse, segment, classify, whole, nodes, blocks
    var k = 0
    pages.foreach { p =>
      def layers(): Unit = {
        val t0 = System.nanoTime()
        val html = ExtractPipeline.decode(p.html, "utf-8")
        val t1 = System.nanoTime()
        val tree = TagTree.parse(html)
        val t2 = System.nanoTime()
        val blocks = MainContent.segment(tree)
        val t3 = System.nanoTime()
        val keep = MainContent.classify(blocks)
        val t4 = System.nanoTime()
        acc(0) += t1 - t0; acc(1) += t2 - t1; acc(2) += t3 - t2; acc(3) += t4 - t3
        acc(5) += tree.size; acc(6) += blocks.length
        sink += keep.length
      }
      def whole(): Unit = {
        val t0 = System.nanoTime()
        val d = ExtractPipeline.extractOne(p, "utf-8")
        acc(4) += System.nanoTime() - t0
        sink += d.text_chars
      }
      if (k % 2 == 0) { layers(); whole() } else { whole(); layers() }
      k += 1
    }
    acc
  }

  def replay(pages: Seq[PageRow], warmPasses: Int, passes: Int): Layers = {
    (1 to warmPasses).foreach(_ => pass(pages))
    val runs = (1 to passes).map(_ => pass(pages))
    def med(i: Int) = Stats.median(runs.map(_(i).toDouble))
    Layers(pages.map(_.html.length.toLong).sum / 1024.0, pages.size,
      med(0), med(1), med(2), med(3), med(4), runs.head(5), runs.head(6))
  }

  /** Runs the whole kernel over `pages` on `threads` threads for about
    * `seconds`, so the JIT has compiled it before any rep is timed.
    */
  def warmParallel(pages: Seq[PageRow], threads: Int, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val workers = (0 until threads).map { k =>
      val t = new Thread(() => {
        var i = k
        while (System.nanoTime() < deadline) {
          sink += ExtractPipeline.extractOne(pages(i % pages.size), "utf-8").text_chars
          i += threads
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
  }

  /** ns per KB of `Soup.parse` over Latin-1 decoded MSTR pages (the parse
    * every MSTR stage pays per requested page), median over passes.
    */
  def soupParseNsPerKb(pages: Seq[PageRow], warmPasses: Int, passes: Int): Double = {
    val htmls = pages.map(p => TextOps.decodeLatin1(p.html))
    val kb = pages.map(_.html.length.toLong).sum / 1024.0
    def one(): Long = {
      var ns = 0L
      htmls.foreach { h =>
        val t0 = System.nanoTime()
        val s = Soup.parse(h)
        ns += System.nanoTime() - t0
        sink += s.n
      }
      ns
    }
    (1 to warmPasses).foreach(_ => one())
    Stats.ratio(Stats.median((1 to passes).map(_ => one().toDouble)), kb)
  }
}
