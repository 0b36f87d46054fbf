package graftbench

import graft.fixtures.{MstrGen, WebCorpus}
import graft.mstr.{MstrJoinPipeline, MstrPipeline}
import graft.ops.DedupOps
import graft.pipeline.{ExtractPipeline, PageRow, PartitionLineage, TableIO}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one rep of a workload's job produced: the items it processed, an
  * order-independent fingerprint of its output (compared against the
  * gate run's), and figures the traced run reads.
  */
final case class RepOut(items: Long, fingerprint: String,
                        extras: Map[String, Double] = Map.empty)

/** One traced rep: its spans and the listener records of its window. */
final case class TracedRep(out: RepOut, wallS: Double, spans: Seq[Span], jobs: Seq[JobRec],
                           stages: Seq[StageRec], tasks: Seq[TaskRec], lo: Long, hi: Long,
                           window: StageStats.Window)

/** A workload's inputs bound to one SparkSession. */
trait Bound {
  /** The timed job. */
  def rep(t: Tracer): RepOut
  /** Untimed: puts state back so the next rep does identical work. */
  def reset(): Unit = ()
  /** Set-up work before the warm-up reps. */
  def preWarm(): Unit = ()
  /** A no-op `mapPartitions` over the input scan; returns the row count. */
  def scan(): Long
  /** Outside the timed region: checks the job's output against an
    * independent expectation. Returns the outcome and, when the check
    * ran the whole job once more, the output fingerprint every rep must
    * reproduce (otherwise the reps must agree with the first one).
    */
  def gate(): (GateResult, Option[String])
  /** The layer table of a traced rep, by the layers' own metric names. */
  def layers(tr: TracedRep, kernel: Kernel.Layers, cores: Int): Map[String, Double]
}

/** Inputs of one workload, written once per set-up. */
trait Prepared {
  /** Items one rep produces: docs extracted, committed or deduplicated,
    * or report JSON documents exported.
    */
  def items: Long
  /** Input pages (or documents) one rep reads. */
  def pages: Long
  def bind(spark: SparkSession): Bound
}

trait Workload {
  def name: String
  /** Whether the traced run also measures the job at `local[1]` for
    * `pipeline.scaling_eff`.
    */
  def scalingLeg: Boolean = false
  def prepare(spark: SparkSession, dir: String, seed: Long, nproc: Int): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(WebScan, WebResumeSkew, MstrJoin, CorpusDedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private[graftbench] val pageEnc = Encoders.product[PageRow]
  private[graftbench] val pageSchema = pageEnc.schema

  def readPages(spark: SparkSession, dir: String): Dataset[PageRow] =
    spark.read.schema(pageSchema).parquet(dir).as(pageEnc)

  /** No-op `mapPartitions` over a typed page scan: the cost of reading and
    * decoding rows into `PageRow`, with no extraction.
    */
  def scanPages(ds: Dataset[PageRow]): Long = {
    implicit val longEnc = Encoders.scalaLong
    ds.mapPartitions { it => var n = 0L; it.foreach(_ => n += 1); Iterator(n) }
      .collect().sum
  }

  /** `count | bit_xor(xxhash64(cols))` (plus extra aggregates) in one job. */
  def fingerprint(df: DataFrame, key: Seq[Column], extra: Column*): (Long, Long, Seq[Long]) = {
    val r = df.agg(count(lit(1)), (bit_xor(xxhash64(key: _*)) +: extra): _*).head()
    (r.getLong(0), r.getLong(1), extra.indices.map(i => r.getLong(2 + i)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  /** The stage running `ExtractPipeline`'s `mapPartitions`, and the stages
    * that wrote the shuffle it reads (the routing shuffle, if any).
    */
  def extractStages(stages: Seq[StageRec]): (Option[StageRec], Seq[StageRec]) = {
    val e = stages.filter(_.scopes.contains("MapPartitions")).sortBy(_.stageId).lastOption
    val up = e.toSeq.flatMap { s =>
      val inputs = s.shuffleInputs.toSet
      stages.filter(o => o.stageId != s.stageId && o.rddIds.exists(inputs.contains))
    }
    (e, up)
  }

  def sumTasks(tasks: Seq[TaskRec], of: Seq[StageRec])(f: TaskRec => Long): Long = {
    val ids = of.map(s => (s.stageId, s.attempt)).toSet
    tasks.filter(t => ids.contains((t.stageId, t.attempt))).map(f).sum
  }

  def spanS(tr: TracedRep, name: String): Double =
    tr.spans.filter(_.name == name).map(_.seconds).sum

  /** Window figures under a layer's prefix. */
  def windowLayers(prefix: String, w: StageStats.Window, names: Seq[String]): Map[String, Double] =
    names.map(n => s"$prefix.$n" -> w.byName(n)).toMap

  /** Expected `(url, md5(text))` of web pages `0 until n`, computed from
    * the generator's golden text, in parallel.
    */
  def expectedWeb(spark: SparkSession, n: Int, gen: Int => WebCorpus.Fixture): Seq[(String, String)] = {
    import spark.implicits._
    spark.range(0, n, 1, 16).map { i =>
      val f = gen(i.toInt); (f.page.url, Gate.md5Hex(f.expectedText))
    }.collect().toSeq
  }

  /** Seconds of multi-threaded kernel warm-up before a web workload's
    * warm-up reps: the extraction kernel is the code the JIT needs
    * longest to settle.
    */
  val KernelWarmS = 2.0

  /** A seeded sample of uniform web pages (kernel warm-up and replay). */
  def kernelSample(seed: Long): Seq[PageRow] = {
    val rnd = new scala.util.Random(seed)
    val g = WebScan.gen(seed)
    (0 until 1200).map(_ => g(rnd.nextInt(1 << 20)).page)
  }

  def docsOut(ds: Dataset[graft.pipeline.ExtractedDoc]): Seq[(String, String, Boolean)] =
    ds.select(col("url"), md5(col("text")), col("parse_ok")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
}

import Workloads._

/** Uniform pages, scanned and extracted with no shuffle and no write. */
object WebScan extends Workload {
  val name = "web-scan"
  override val scalingLeg = true
  val Pages = 16000

  def gen(seed: Long): Int => WebCorpus.Fixture = i => WebCorpus.generateOne(i, seed, giantEvery = 0)

  def prepare(spark: SparkSession, dir: String, seed: Long, nproc: Int): Prepared = {
    val g = gen(seed)
    spark.range(0, Pages, 1, 16).map(i => g(i.toInt).page)(pageEnc)
      .write.parquet(dir)
    new Prepared {
      val items = Pages.toLong
      val pages = Pages.toLong
      def bind(spark: SparkSession): Bound = new WebScanBound(spark, dir, seed)
    }
  }

  final class WebScanBound(spark: SparkSession, dir: String, seed: Long) extends Bound {
    private val input = readPages(spark, dir)
    override def preWarm(): Unit = Kernel.warmParallel(kernelSample(seed), Main.nproc, KernelWarmS)
    private lazy val kb = input.select(sum(length(col("html")))).head().getLong(0) / 1024.0

    private def drain(out: Dataset[graft.pipeline.ExtractedDoc]): RepOut = {
      val (n, x, Seq(bad)) = fingerprint(out.toDF(), Seq(col("url"), col("text")),
        sum(when(col("parse_ok"), 0L).otherwise(1L)))
      RepOut(n, s"$n:$bad:$x")
    }

    def rep(t: Tracer): RepOut =
      if (!t.live) drain(ExtractPipeline.run(input, "utf-8", numPartitions = 0))
      else {
        val acc = spark.sparkContext.collectionAccumulator[PartitionLineage]("lineage")
        val out = t.span("pipeline.ExtractPipeline.run") {
          ExtractPipeline.run(input, "utf-8", numPartitions = 0, Some(acc))
        }
        val r = t.span("drain")(drain(out))
        r.copy(extras = Map("lineage_docs" -> acc.value.asScala.map(_.docs).sum.toDouble,
          "input_kb" -> kb))
      }

    def scan(): Long = scanPages(input)

    def gate(): (GateResult, Option[String]) = {
      val out = ExtractPipeline.run(input, "utf-8", numPartitions = 0).persist()
      try {
        val ref = drain(out).fingerprint
        val g = Gate.digests("url", expectedWeb(spark, Pages, gen(seed)), docsOut(out))
        (g, Some(ref))
      } finally out.unpersist()
    }

    def layers(tr: TracedRep, kernel: Kernel.Layers, cores: Int): Map[String, Double] = {
      val (e, up) = extractStages(tr.stages)
      kernel.asMetrics ++ windowLayers("pipeline", tr.window,
        Seq("core_util", "tasks", "gc_frac", "driver_gap_s", "jobs")) ++ Map(
        "pipeline.spark_overhead_frac" -> (1.0 - Stats.ratio(
          tr.out.extras("input_kb") * kernel.asMetrics("extract.kernel_ns_per_kb"), cores * tr.wallS * 1e9)),
        "pipeline.route_shuffle_write_mb" -> sumTasks(tr.tasks, up)(_.shuffleWriteBytes) / 1048576.0,
        "pipeline.route_fetch_wait_s" -> sumTasks(tr.tasks, e.toSeq)(_.fetchWaitMs) / 1e3,
        "pipeline.lineage_overcount" -> (tr.out.extras("lineage_docs") - tr.out.items))
    }
  }
}

/** Heavy-tailed pages resumed against a half-committed table: anti-join,
  * routing shuffle with giant-page segregation, extraction, snapshot
  * write and manifest commit.
  */
object WebResumeSkew extends Workload {
  val name = "web-resume-skew"
  val Pages = 6000
  val GiantEvery = 2000
  /** ~4.8 MB per giant page: above `routeForSkew`'s 4 MiB threshold. */
  val GiantParagraphs = 44000
  val GiantThreshold = 4 << 20

  def gen(seed: Long): Int => WebCorpus.Fixture =
    i => WebCorpus.generateOne(i, seed, giantEvery = GiantEvery, giantParagraphs = GiantParagraphs)

  def prepare(spark: SparkSession, dir: String, seed: Long, nproc: Int): Prepared = {
    val pagesDir = s"$dir/pages"
    val g = gen(seed)
    spark.range(0, Pages, 1, 16).map(i => g(i.toInt).page)(pageEnc)
      .write.parquet(pagesDir)
    val giants = readPages(spark, pagesDir).where(length(col("html")) >= GiantThreshold).count()
    require(giants == Pages / GiantEvery, s"expected ${Pages / GiantEvery} giant pages, got $giants")
    // snapshot 1: every other page, the parity chosen by the seed; giants
    // are always left pending
    val io = new TableIO(s"$dir/table")
    val index = substring(col("url"), -11, 6).cast("long")
    val base = readPages(spark, pagesDir)
      .where((index + lit(seed)) % 2 === 0 && length(col("html")) < GiantThreshold)
    val committed = io.appendSnapshot(ExtractPipeline.run(base).toDF()).rows
    require(io.snapshots().map(_.id) == Seq(1L), "set-up must commit exactly snapshot 1")
    new Prepared {
      val items = Pages - committed
      val pages = Pages.toLong
      def bind(spark: SparkSession): Bound = new ResumeBound(spark, dir, seed, nproc, items)
    }
  }

  final class ResumeBound(spark: SparkSession, dir: String, seed: Long, nproc: Int,
                          pendingRows: Long) extends Bound {
    private val input = readPages(spark, s"$dir/pages")
    private val io = new TableIO(s"$dir/table")
    override def preWarm(): Unit = Kernel.warmParallel(kernelSample(seed), Main.nproc, KernelWarmS)
    private val routePartitions = 4 * nproc

    def rep(t: Tracer): RepOut =
      if (!t.live) {
        val n = TableIO.resumeExtract(io, input, "utf-8", numPartitions = routePartitions)
        RepOut(n, s"$n")
      } else {
        // the body of TableIO.resumeExtract, one span per layer call
        val acc = spark.sparkContext.collectionAccumulator[PartitionLineage]("lineage")
        val todo = t.span("pipeline.TableIO.pending") {
          io.pending(input.toDF(), "url").as(pageEnc)
        }
        val extracted = t.span("pipeline.ExtractPipeline.run") {
          ExtractPipeline.run(todo, "utf-8", routePartitions, Some(acc))
        }
        val snap = t.span("pipeline.TableIO.appendSnapshot")(io.appendSnapshot(extracted.toDF()))
        RepOut(snap.rows, s"${snap.rows}",
          Map("lineage_docs" -> acc.value.asScala.map(_.docs).sum.toDouble))
      }

    /** Back to snapshot 1; the abandoned snapshot's files are removed. */
    override def reset(): Unit = {
      val extra = io.snapshots().filter(_.id != 1L)
      io.rollbackTo(1)
      extra.foreach(s => deleteTree(Paths.get(dir, "table", s.dir)))
    }

    def scan(): Long = scanPages(input)

    def gate(): (GateResult, Option[String]) = {
      val n = TableIO.resumeExtract(io, input, "utf-8", numPartitions = routePartitions)
      try {
        val table = io.readTable(spark).get.as(Encoders.product[graft.pipeline.ExtractedDoc])
        // every url committed exactly once, with the golden text
        val g = Gate.digests("url", expectedWeb(spark, Pages, gen(seed)), docsOut(table))
        val count = if (n == pendingRows) GateResult(1, 0)
          else GateResult(1, 1, Seq(s"resume committed $n rows, expected $pendingRows"))
        (g ++ count, Some(s"$n"))
      } finally reset()
    }

    def layers(tr: TracedRep, kernel: Kernel.Layers, cores: Int): Map[String, Double] = {
      val (e, up) = extractStages(tr.stages)
      val append = tr.spans.find(_.name == "pipeline.TableIO.appendSnapshot")
      // the anti-join: stages before the extraction stage that neither
      // are it nor feed it
      val pendingStages = tr.stages.filter(s => e.exists(x => s.stageId < x.stageId) &&
        !up.exists(_.stageId == s.stageId))
      val pendingS = Stats.coveredLength(
        pendingStages.filter(_.submitted >= 0).map(s => (s.submitted, s.completed)), tr.lo, tr.hi) / 1e3
      val commitS = (for (a <- append; x <- e) yield (a.endMs - x.completed) / 1e3).getOrElse(0.0)
      kernel.asMetrics.filter(_._1.startsWith("html.")) ++ windowLayers("pipeline", tr.window,
        Seq("core_util", "tasks", "task_s_p50", "task_s_max", "straggler_ratio", "gc_frac",
          "driver_gap_s", "jobs")) ++ Map(
        "pipeline.route_shuffle_write_mb" -> sumTasks(tr.tasks, up)(_.shuffleWriteBytes) / 1048576.0,
        "pipeline.route_fetch_wait_s" -> sumTasks(tr.tasks, e.toSeq)(_.fetchWaitMs) / 1e3,
        "pipeline.pending_s" -> pendingS,
        "pipeline.commit_s" -> commitS,
        "pipeline.bytes_written_per_doc" -> Stats.ratio(tr.window.bytesWritten.toDouble, tr.out.items.toDouble),
        "pipeline.lineage_overcount" -> (tr.out.extras("lineage_docs") - tr.out.items))
    }
  }
}

/** The MSTR join plan over a generated documentation export. The
  * generator has no seed, so the seed permutes the page rows, and with
  * them the partition each page lands in.
  */
object MstrJoin extends Workload {
  val name = "mstr-join"
  val Reports = 600
  val InputFiles = 8

  def pagesFor(seed: Long): Seq[PageRow] = new scala.util.Random(seed).shuffle(MstrGen.pages(Reports))

  def prepare(spark: SparkSession, dir: String, seed: Long, nproc: Int): Prepared = {
    import spark.implicits._
    val rows = pagesFor(seed)
    spark.sparkContext.parallelize(rows, InputFiles).toDS().write.parquet(dir)
    new Prepared {
      val items = Reports.toLong
      val pages = rows.size.toLong
      def bind(spark: SparkSession): Bound = new MstrBound(spark, dir, rows, nproc)
    }
  }

  final class MstrBound(spark: SparkSession, dir: String, pageRows: Seq[PageRow], nproc: Int)
      extends Bound {
    private val input = readPages(spark, dir)

    /** Runs the plan and drains its JSON rows; the gate's run also
      * collects every report's digest.
      */
    private def runDrain(t: Tracer, collect: Boolean): (RepOut, Seq[(String, String, Boolean)]) = {
      val res = t.span("mstr.MstrJoinPipeline.run") {
        MstrJoinPipeline.run(spark, input, "pt-BR", internalShufflePartitions = nproc)
      }
      try {
        val (n, x, Seq(bytes)) = t.span("drain") {
          fingerprint(res.toDF(), Seq(col("report_id"), col("json")), sum(length(col("json"))).cast("long"))
        }
        val rows = if (!collect) Nil else res.select(col("report_id"), md5(col("json"))).collect()
          .map(r => (r.getString(0), r.getString(1), true)).toSeq
        (RepOut(n, s"$n:$x", Map("json_bytes" -> bytes.toDouble)), rows)
      } finally t.span("unpersist")(res.unpersist())
    }

    def rep(t: Tracer): RepOut = runDrain(t, collect = false)._1

    def scan(): Long = scanPages(input)

    def gate(): (GateResult, Option[String]) = {
      val (out, got) = runDrain(Tracer.Off, collect = true)
      // the broadcast plan on the same corpus is the oracle
      val (viaBroadcast, _, _) = MstrPipeline.run(spark, pageRows, "pt-BR")
      val expected = viaBroadcast.select(col("report_id"), md5(col("json"))).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      viaBroadcast.unpersist()
      spark.catalog.clearCache()
      val count = if (expected.size == Reports) GateResult(1, 0)
        else GateResult(1, 1, Seq(s"broadcast plan produced ${expected.size} reports, expected $Reports"))
      (Gate.digests("report", expected, got) ++ count, Some(out.fingerprint))
    }

    def layers(tr: TracedRep, kernel: Kernel.Layers, cores: Int): Map[String, Double] =
      windowLayers("mstr", tr.window, Seq("jobs", "stages", "shuffle_write_mb", "task_s_max",
        "straggler_ratio", "core_util", "driver_gap_s")) ++ Map(
        "mstr.json_bytes_per_report" -> Stats.ratio(tr.out.extras("json_bytes"), tr.out.items.toDouble))
  }
}

/** The shuffle-bound rewrite-dedup family over a seeded documents table. */
object CorpusDedup extends Workload {
  val name = "corpus-dedup"
  val Docs = 3000
  /** Brute-force prefix: doc_ids `<= PrefixMax` are recomputed exactly. */
  val PrefixMax = 300L

  /** The seed offsets the generator's document index. */
  def textOf(seed: Long): Long => String = i => graft.DedupScaleBench.textOf(i + seed * 1000003L)

  def prepare(spark: SparkSession, dir: String, seed: Long, nproc: Int): Prepared = {
    import spark.implicits._
    val text = textOf(seed)
    spark.range(0, Docs, 1, 8).map(i => (i: Long, text(i))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    new Prepared {
      val items = Docs.toLong
      val pages = Docs.toLong
      def bind(spark: SparkSession): Bound = new DedupBound(spark, dir, seed)
    }
  }

  final class DedupBound(spark: SparkSession, dir: String, seed: Long) extends Bound {
    private def span(): DataFrame = DedupOps.spanDedup(spark, dir)
    private def para(): DataFrame = DedupOps.paraDedup(spark, dir)
    private def drain(df: DataFrame, c: String): String = {
      val (n, x, Seq(s)) = fingerprint(df, Seq(col("doc_id"), col("digest")), sum(col(c)))
      s"$n:$s:$x"
    }

    def rep(t: Tracer): RepOut = {
      val a = t.span("ops.DedupOps.spanDedup")(drain(span(), "n_removed"))
      val b = t.span("ops.DedupOps.paraDedup")(drain(para(), "n_kept"))
      RepOut(Docs, s"span=$a,para=$b")
    }

    def scan(): Long = {
      implicit val longEnc = Encoders.scalaLong
      spark.read.parquet(s"$dir/documents.parquet").as[(Long, String)](
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        .mapPartitions { it => var n = 0L; it.foreach(_ => n += 1); Iterator(n) }.collect().sum
    }

    def gate(): (GateResult, Option[String]) = {
      val prefix = spark.read.parquet(s"$dir/documents.parquet").where(col("doc_id") <= PrefixMax)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      def rows(df: DataFrame, c: String) = df.where(col("doc_id") <= PrefixMax)
        .select(col("doc_id"), col(c), col("digest")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val g = Gate.dedupPrefix("span doc", Gate.BruteDedup.span(prefix), rows(span(), "n_removed")) ++
        Gate.dedupPrefix("para doc", Gate.BruteDedup.para(prefix), rows(para(), "n_kept"))
      (g, None)
    }

    def layers(tr: TracedRep, kernel: Kernel.Layers, cores: Int): Map[String, Double] =
      windowLayers("ops", tr.window, Seq("shuffle_bytes_per_record", "shuffle_write_mb", "spill_mb",
        "fetch_wait_s", "gc_frac", "core_util", "task_s_max")) ++ Map(
        "ops.span_s" -> spanS(tr, "ops.DedupOps.spanDedup"),
        "ops.para_s" -> spanS(tr, "ops.DedupOps.paraDedup"))
  }
}
