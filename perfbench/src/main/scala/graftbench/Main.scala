package graftbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark: one closed-loop client that submits a
  * workload's job, waits for it, and submits the next.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> [--commit <sha>] [--tree <digest>]
  *
  * Untraced (`--trace 0`): set-up, warm-up, timed reps at `local[nproc]`
  * for `--seconds`, then the correctness gate; prints the end-to-end
  * metrics. Traced (`--trace 1`): untraced and traced reps in turn (the
  * traced ones with spans and a stage listener, never counted as timed),
  * the input scan, the single-thread kernel replay, the gate, and for
  * web-scan the same reps at `local[1]`; prints the per-layer metrics and
  * writes spans and per-stage records to
  * `<work>/trace-<workload>-<seed>.json`.
  *
  * The last stdout line is the result:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, commit: String, tree: String)

  def parse(args: Array[String]): Either[String, Opts] = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload"); s <- need("seed"); sec <- need("seconds"); t <- need("trace")
      work <- need("work")
      seed <- s.toLongOption.toRight(s"bad --seed $s")
      seconds <- sec.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $sec")
      trace <- (t match { case "0" => Some(false); case "1" => Some(true); case _ => None })
        .toRight(s"bad --trace $t")
    } yield Opts(w, seed, seconds, trace, work, m.getOrElse("commit", ""), m.getOrElse("tree", ""))
  }

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupRepeats = 3
  val MinReps = 3
  val MaxReps = 400

  final case class Rep(wallS: Double, out: Option[RepOut], stealTicks: Long)

  def main(args: Array[String]): Unit = {
    val opts = parse(args) match {
      case Right(o) => o
      case Left(err) => System.err.println(s"perfbench: $err"); sys.exit(2)
    }
    val bad = Guard.violations(sys.env, sys.props)
    if (bad.nonEmpty) {
      System.err.println(s"perfbench: refusing to run with behaviour switches set: ${bad.mkString(", ")}")
      sys.exit(3)
    }
    val wl = Workloads.byName(opts.workload).getOrElse {
      System.err.println(s"perfbench: unknown workload ${opts.workload}; " +
        s"known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    Files.createDirectories(Paths.get(opts.work))
    val lines = if (opts.trace) traced(wl, opts) else untraced(wl, opts)
    lines.foreach(println)
  }

  // ---- environment readings -------------------------------------------

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Cumulative steal ticks of all CPUs (`/proc/stat`), 0 where unreadable. */
  def stealTicks(): Long =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong else 0L
    } catch { case _: Exception => 0L }

  private def procField(file: String, key: String): Long =
    try {
      val it = Files.readAllLines(Paths.get(file)).iterator()
      var v = 0L
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith(key)) v = l.drop(key.length).trim.split("\\s+")(0).toLong
      }
      v
    } catch { case _: Exception => 0L }

  /** Peak resident set (VmHWM) of this JVM, MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  def provenance(opts: Opts, reps: Seq[Rep]): Map[String, Any] = Map(
    "commit" -> (if (opts.commit.isEmpty) None else Some(opts.commit)),
    "tree_digest" -> opts.tree,
    "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
    "trace" -> opts.trace, "nproc" -> nproc,
    "mem_total_kb" -> procField("/proc/meminfo", "MemTotal:"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "jdk" -> s"${sys.props.getOrElse("java.vm.name", "")} ${sys.props.getOrElse("java.runtime.version", "")}",
    "steal_ticks_per_rep" -> reps.map(_.stealTicks))

  // ---- sessions and reps ----------------------------------------------

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // fixed by the box, not the leg: both legs run the same layout
      .config("spark.sql.shuffle.partitions", (4 * nproc).toString)
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def oneRep(b: Bound, t: Tracer = Tracer.Off): Rep = {
    val s0 = stealTicks()
    val (out, wall) = timeS(try Some(b.rep(t)) catch {
      case e: Exception => System.err.println(s"perfbench: rep failed: $e"); None
    })
    val rep = Rep(wall, out, stealTicks() - s0)
    b.reset()
    rep
  }

  /** Warm-up: reps for at least `minS` seconds and `minReps` reps, then
    * until two consecutive rep walls agree within 10%, for at most `maxS`
    * seconds. The time floor gives the JIT the same head start whatever
    * a rep's size.
    */
  def warm(b: Bound, minReps: Int, minS: Double, maxS: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var prev = -1.0
    var i = 0
    var settled = false
    while (i < minReps || (elapsed < maxS && !(settled && elapsed >= minS))) {
      val w = oneRep(b).wallS
      settled = prev > 0 && math.abs(w - prev) <= 0.1 * prev
      prev = w
      i += 1
    }
  }

  /** Closed loop: reps until `budgetS` has passed and at least `MinReps` ran. */
  def loop(b: Bound, budgetS: Double, minReps: Int = MinReps): Seq[Rep] = {
    val reps = ArrayBuffer.empty[Rep]
    val t0 = System.nanoTime()
    while (reps.size < MaxReps && (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < budgetS))
      reps += oneRep(b)
    reps.toSeq
  }

  /** Median items/s over the reps that returned. */
  def medianRate(reps: Seq[Rep]): Double = {
    val ok = reps.flatMap(r => r.out.map(o => Stats.rate(o.items, r.wallS)))
    if (ok.isEmpty) 0.0 else Stats.median(ok)
  }

  final case class SetUp(spark: SparkSession, prepared: Prepared, setupS: Double, sessionS: Double,
                         prepareS: Seq[Double], warmS: Double)

  /** Session start, [[SetupRepeats]] input set-ups (all but the last are
    * deleted), and warm-up. `setup_s` = session start + median set-up +
    * warm-up.
    */
  def setUp(wl: Workload, opts: Opts): (SetUp, Bound) = {
    val (spark, sessionS) = timeS(session(nproc, opts.work))
    val preps = (1 to SetupRepeats).map { k =>
      val dir = s"${opts.work}/input-$k"
      Workloads.deleteTree(Paths.get(dir))
      val (p, s) = timeS(wl.prepare(spark, dir, opts.seed, nproc))
      if (k < SetupRepeats) Workloads.deleteTree(Paths.get(dir))
      (p, s)
    }
    val prepared = preps.last._1
    val (bound, warmS) = timeS {
      val b = prepared.bind(spark); b.preWarm(); warm(b, 2, 0.4 * opts.seconds, 0.8 * opts.seconds); b
    }
    val prepS = preps.map(_._2)
    (SetUp(spark, prepared, sessionS + Stats.median(prepS) + warmS, sessionS, prepS, warmS), bound)
  }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  def result(gate: GateResult, metrics: Seq[(String, Map[String, Any])]): String =
    Json(scala.collection.immutable.ListMap(
      "correct" -> gate.ok, "attempted" -> gate.attempted, "failed" -> gate.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))

  // ---- untraced run: end-to-end metrics -------------------------------

  def untraced(wl: Workload, opts: Opts): Seq[String] = {
    val (su, b) = setUp(wl, opts)
    val p = su.prepared
    val reps = loop(b, opts.seconds)
    val (gate, gateRef) = b.gate()
    stop(su.spark)
    val ref = gateRef.getOrElse(reps.flatMap(_.out).headOption.fold("")(_.fingerprint))
    val all = gate ++ Gate.repsAgree(wl.name, reps.map(_.out.map(_.fingerprint)), ref, p.items)
    val walls = reps.map(_.wallS)
    val detail = Map(
      "provenance" -> provenance(opts, reps),
      "gate_notes" -> all.notes,
      "error_rate" -> Stats.ratio(all.failed.toDouble, all.attempted.toDouble),
      "reps" -> reps.size, "walls_s" -> walls,
      "items_per_rep" -> p.items, "pages_per_rep" -> p.pages,
      "session_s" -> su.sessionS, "prepare_s" -> su.prepareS, "warm_s" -> su.warmS)
    Seq(Json(detail), result(all, Seq(
      "docs_per_s" -> metric(medianRate(reps), "docs/s"),
      "ms_per_page" -> metric(Stats.median(walls) * 1000.0 / p.pages, "ms"),
      "setup_s" -> metric(su.setupS, "s"),
      "peak_rss_mb" -> metric(peakRssMb(), "MB"))))
  }

  // ---- traced run: per-layer metrics -----------------------------------

  /** Per-layer metric names and units, in the order printed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.scaling_eff" -> "ratio",
    "text.decode_ns_per_kb" -> "ns/KB", "html.parse_ns_per_kb" -> "ns/KB",
    "html.nodes_per_kb" -> "count", "extract.segment_ns_per_kb" -> "ns/KB",
    "extract.classify_ns_per_kb" -> "ns/KB", "extract.blocks_per_doc" -> "count",
    "extract.kernel_ns_per_kb" -> "ns/KB", "extract.unexplained_frac" -> "fraction",
    "mstr.soup_parse_ns_per_kb" -> "ns/KB", "pipeline.scan_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.core_util" -> "ratio", "spark.task_s_p50" -> "s", "spark.task_s_max" -> "s",
    "spark.straggler_ratio" -> "ratio", "spark.gc_frac" -> "fraction",
    "spark.driver_gap_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_bytes_per_record" -> "B", "spark.spill_mb" -> "MB",
    "spark.fetch_wait_frac" -> "fraction",
    "pipeline.spark_overhead_frac" -> "fraction", "pipeline.lineage_overcount" -> "count",
    "pipeline.route_shuffle_write_mb" -> "MB", "pipeline.pending_frac" -> "fraction",
    "pipeline.commit_frac" -> "fraction", "pipeline.bytes_written_per_doc" -> "B",
    "mstr.json_bytes_per_report" -> "B", "ops.span_frac" -> "fraction",
    "trace.overhead_frac" -> "fraction", "trace.dropped_task_events" -> "count",
    "error_rate" -> "fraction")

  def traced(wl: Workload, opts: Opts): Seq[String] = {
    val (su, b) = setUp(wl, opts)
    val spark = su.spark
    val sc = spark.sparkContext
    val p = su.prepared
    // untraced and traced reps alternate, so JIT drift biases neither
    // side of the tracing-overhead comparison; the listener is attached
    // only around traced reps
    val tracer = new Tracer
    val listener = new StageListener
    val untimedBuf = ArrayBuffer.empty[Rep]
    val tracedBuf = ArrayBuffer.empty[TracedRep]
    var dropped = 0
    val t0 = System.nanoTime()
    while (tracedBuf.size < MinReps || (System.nanoTime() - t0) / 1e9 < opts.seconds * 0.7) {
      untimedBuf += oneRep(b)
      val repId = s"rep-${tracedBuf.size}"
      listener.reset()
      sc.addSparkListener(listener)
      sc.setJobGroup(repId, s"${wl.name} traced rep")
      val lo = System.currentTimeMillis()
      val (out, wall) = timeS(tracer.inRep(repId)(b.rep(tracer)))
      val hi = System.currentTimeMillis() + 1
      sc.clearJobGroup()
      val (jobs, stages, tasks, missing) = listener.snapshot(sc)
      sc.removeSparkListener(listener)
      dropped += missing
      tracedBuf += TracedRep(out, wall, tracer.spans.filter(_.rep == repId), jobs, stages, tasks,
        lo, hi, StageStats.window(jobs, stages, tasks, lo, hi, nproc))
      b.reset()
    }
    val untimed = untimedBuf.toSeq
    val tracedReps = tracedBuf.toSeq

    val scanS = Stats.median((1 to 3).map(_ => timeS(tracer.span("pipeline.scan")(b.scan()))._2))
    val kernel = Kernel.replay(Workloads.kernelSample(opts.seed), warmPasses = 3, passes = 5)
    val soup = Kernel.soupParseNsPerKb(graft.fixtures.MstrGen.pages(60), warmPasses = 3, passes = 5)
    val (gate, gateRef) = b.gate()
    stop(spark)
    val ref = gateRef.getOrElse(untimed.flatMap(_.out).headOption.fold("")(_.fingerprint))

    // the same job on the same input at local[1]: N→1 scaling efficiency
    val narrow = if (!wl.scalingLeg) Nil else {
      val one = session(1, opts.work)
      try { val nb = p.bind(one); warm(nb, 1, 0, 0); loop(nb, opts.seconds * 0.3) } finally stop(one)
    }
    val scaling = if (narrow.isEmpty) 0.0 else Stats.scalingEff(medianRate(untimed), medianRate(narrow), nproc)

    val agree = Gate.repsAgree(s"${wl.name} untraced", untimed.map(_.out.map(_.fingerprint)), ref, p.items) ++
      Gate.repsAgree(s"${wl.name} traced", tracedReps.map(r => Some(r.out.fingerprint)), ref, p.items) ++
      Gate.repsAgree(s"${wl.name} local[1]", narrow.map(_.out.map(_.fingerprint)), ref, p.items)
    val all = gate ++ agree
    val med = tracedReps.sortBy(_.wallS).apply(tracedReps.size / 2)
    val layers = b.layers(med, kernel, nproc)
    val overhead = Stats.ratio(medianRate(untimed), Stats.median(tracedReps.map(r => Stats.rate(r.out.items, r.wallS)))) - 1.0
    val values: Map[String, Double] = kernel.asMetrics ++
      Workloads.windowLayers("spark", med.window, Seq("jobs", "stages", "tasks", "core_util",
        "task_s_p50", "task_s_max", "straggler_ratio", "gc_frac", "driver_gap_s", "shuffle_write_mb",
        "shuffle_bytes_per_record", "spill_mb", "fetch_wait_frac")) ++ Map(
      "mstr.soup_parse_ns_per_kb" -> soup, "pipeline.scan_s" -> scanS,
      "pipeline.spark_overhead_frac" -> layers.getOrElse("pipeline.spark_overhead_frac", 0.0),
      "pipeline.lineage_overcount" -> layers.getOrElse("pipeline.lineage_overcount", 0.0),
      "pipeline.route_shuffle_write_mb" -> layers.getOrElse("pipeline.route_shuffle_write_mb", 0.0),
      "pipeline.pending_frac" -> Stats.ratio(layers.getOrElse("pipeline.pending_s", 0.0), med.wallS),
      "pipeline.commit_frac" -> Stats.ratio(layers.getOrElse("pipeline.commit_s", 0.0), med.wallS),
      "pipeline.bytes_written_per_doc" -> layers.getOrElse("pipeline.bytes_written_per_doc", 0.0),
      "mstr.json_bytes_per_report" -> layers.getOrElse("mstr.json_bytes_per_report", 0.0),
      "ops.span_frac" -> Stats.ratio(layers.getOrElse("ops.span_s", 0.0), med.wallS),
      "pipeline.scaling_eff" -> scaling,
      "trace.overhead_frac" -> overhead, "trace.dropped_task_events" -> dropped.toDouble,
      "error_rate" -> Stats.ratio(all.failed.toDouble, all.attempted.toDouble))

    val traceFile = Paths.get(opts.work, s"trace-${wl.name}-${opts.seed}.json")
    val traceDoc = scala.collection.immutable.ListMap(
      "provenance" -> provenance(opts, untimed),
      "layers" -> scala.collection.immutable.ListMap((layers ++ Map("pipeline.scan_s" -> scanS) ++
        (if (narrow.isEmpty) Map.empty else Map("pipeline.scaling_eff" -> scaling,
          "pipeline.docs_per_s_local1" -> medianRate(narrow)))).toSeq.sortBy(_._1): _*),
      "tracing_overhead" -> Map("untraced_docs_per_s" -> medianRate(untimed),
        "traced_docs_per_s" -> Stats.median(tracedReps.map(r => Stats.rate(r.out.items, r.wallS))),
        "untraced_ms_per_page" -> Stats.median(untimed.map(_.wallS)) * 1000.0 / p.pages,
        "traced_ms_per_page" -> Stats.median(tracedReps.map(_.wallS)) * 1000.0 / p.pages,
        "overhead_frac" -> overhead),
      "median_rep" -> med.spans.headOption.map(_.rep),
      "stages" -> StageStats.perStage(med.stages, med.tasks),
      "spans" -> tracer.spans.map(_.toJson),
      "gate_notes" -> all.notes)
    Files.write(traceFile, Json(traceDoc).getBytes(UTF_8))
    Seq(Json(Map("trace_file" -> traceFile.getFileName.toString, "layers" -> traceDoc("layers"),
        "tracing_overhead" -> traceDoc("tracing_overhead"))),
      result(all, PerLayer.map { case (n, u) => n -> metric(values(n), u) }))
  }
}
