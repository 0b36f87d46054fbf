package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.MstrCorpus
import graft.mstr.{MstrJoinPipeline, MstrPipeline}

/** The join-based plan (unbounded-corpus path: distributed pages,
  * staged request joins) must produce byte-identical report JSON to the
  * broadcast-corpus plan — same parsers, different physical strategy.
  */
class MstrJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("join path equals broadcast path byte-for-byte on the fixture corpus") {
    import spark.implicits._
    val viaBroadcast = MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap

    // distributed pages, deliberately spread over several partitions
    val pagesDs = spark.createDataset(MstrCorpus.pages).repartition(5)
    val viaJoin = MstrJoinPipeline.run(spark, pagesDs, "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap

    assert(viaJoin.keySet == viaBroadcast.keySet)
    viaBroadcast.foreach { case (rid, json) =>
      assert(viaJoin(rid) == json, s"report $rid diverged between paths")
    }
  }

  test("resumable TableIO sink: interrupted run completes only the remainder, identical to cold run") {
    import spark.implicits._
    val pages = graft.fixtures.MstrGen.pages(10)
    val pagesDs = spark.createDataset(pages).repartition(4)
    // cold one-shot reference
    val cold = MstrJoinPipeline.run(spark, pagesDs)
      .collect().map(r => (r.report_id, r.name, r.file_path, r.json)).sorted
    assert(cold.length == 10)

    // "interrupted" run: only a prefix of the work list was committed
    // before the kill — simulated by narrowing the selection
    val root = java.nio.file.Files.createTempDirectory("graft-mstr-resume").toString
    val io = new graft.pipeline.TableIO(root)
    val n1 = MstrJoinPipeline.resumeExtract(spark, pagesDs, io,
      select = Some(idx => idx.links.take(3)))
    assert(n1 == 3)

    // resume with the FULL selection: exactly the remainder commits
    val n2 = MstrJoinPipeline.resumeExtract(spark, pagesDs, io)
    assert(n2 == cold.length - 3, "resume must extract only the missing reports")
    val table = io.readTable(spark).get
    val resumed = table
      .select("report_id", "name", "file_path", "json")
      .as[(String, String, String, String)].collect().sorted
    assert(resumed.sameElements(cold), "resumed table must equal the cold run byte-for-byte")

    // no-op resume: nothing pending ⇒ no new snapshot (no table growth)
    val snapsBefore = io.snapshots().size
    val n3 = MstrJoinPipeline.resumeExtract(spark, pagesDs, io)
    assert(n3 == 0 && io.snapshots().size == snapsBefore)

    // key-scheme guard: a committed table without the marker (a legacy
    // selection-relative-ordinal table) must refuse to resume — its
    // keys could alias the full-index ordinals this build writes
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "key-scheme"))
    intercept[IllegalArgumentException] {
      MstrJoinPipeline.resumeExtract(spark, pagesDs, io)
    }
  }

  test("hot-basename corpus: salted routing engages and stays byte-identical to broadcast") {
    import spark.implicits._
    // all 600 cube sections in ONE content file: its request fan-in
    // exceeds 2x the per-partition fair share, so the join plan must
    // route it through the salted leg (detection asserted directly
    // below) and still produce the broadcast plan's exact bytes
    val pages = graft.fixtures.MstrGen.pages(600, hotCubes = true)
    val viaBroadcast = MstrPipeline.run(spark, pages, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap
    val viaJoin = MstrJoinPipeline.run(spark,
      spark.createDataset(pages).repartition(4), "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap
    assert(viaJoin.keySet == viaBroadcast.keySet)
    viaBroadcast.foreach { case (rid, json) =>
      assert(viaJoin(rid) == json, s"report $rid diverged on the hot corpus")
    }
  }

  test("hot-file detection: 2x fair-share per population, floor 64, even layouts cold") {
    def files(n: Int, perFile: Int): Iterator[String] =
      (0 until n).iterator.map(i => s"F_${i / perFile}.html")
    // one file holding all 600 links of a 600-link population is hot at
    // width 4 — and splits all the way (600 / half-threshold 150 = 4)
    assert(MstrJoinPipeline.hotFilesOf(Seq(files(600, 600)), 4)
      == Map("F_0.html" -> 4))
    // spread 10-per-file: fair share 150, nothing crosses 2x
    assert(MstrJoinPipeline.hotFilesOf(Seq(files(600, 10)), 4).isEmpty)
    // floor: a 60-request file is never split even at high width
    assert(MstrJoinPipeline.hotFilesOf(Seq(files(60, 60)), 64).isEmpty)
    // populations are judged independently: a file dominating a small
    // index must not hide behind a big one's total
    assert(MstrJoinPipeline.hotFilesOf(
      Seq(files(10000, 10), (0 until 500).iterator.map(_ => "Hot.html")), 4)
      .keySet == Set("Hot.html"))
  }

  test("adaptive salt count: ~half-threshold requests per salt, capped at width, min 2") {
    import MstrJoinPipeline.{fairShareThreshold, saltCountOf}
    // barely hot at huge width: 65 reqs of 65 total, width 1000 —
    // threshold floors at 64 (hot), but splitting 1000 ways would
    // replicate the page 1000x for 65 requests; half-threshold 32/salt
    // gives 3 salts
    assert(saltCountOf(65, fairShareThreshold(65, 1000), 1000) == 3)
    // fan-in: the whole stage on one file splits to full width
    // (threshold 1312, half 656: ceil(21000/656) = 33, capped at 32)
    assert(saltCountOf(21000, fairShareThreshold(21000, 32), 32) == 32)
    // 3x fair share at width 32 (total 3200: threshold 200): 450 reqs
    // -> ceil(450/100) = 5 salts, not 32
    assert(saltCountOf(450, fairShareThreshold(3200, 32), 32) == 5)
    // never fewer than 2 (a hot file must actually split)
    assert(saltCountOf(65, fairShareThreshold(2000, 4), 4) >= 2)
    // a file hot in two populations keeps its widest split
    val both = MstrJoinPipeline.hotFilesOf(Seq(
      (0 until 500).iterator.map(_ => "Hot.html"),                  // 500/500: k=4 at width 4
      (0 until 9000).iterator.map(i =>
        if (i < 3000) "Hot.html" else s"F_${i % 40}.html")), 4)     // 3000/9000: threshold 4500 -> cold here
    assert(both("Hot.html") == 4)
  }

  test("salted partitioner: k salts occupy k distinct partitions; plain keys = hash rule") {
    import MstrJoinPipeline.{SaltedPartitioner, saltKey}
    // hashing the composite string would let small-k splits collide
    // into one partition (String.hashCode mod 2^m is structurally
    // degenerate: 31 \u2261 -1 mod 32) and quietly resurrect the
    // straggler; the salted partitioner places salt s of file f at
    // (hash(f) + s) mod width, distinct by construction. Width 1000
    // (non-power-of-two) with a near-MaxValue-hash file pins the Int
    // overflow case: "F8261463.html".hashCode = Int.MaxValue - 252, so
    // salts >= 253 wrap in 32-bit math and would shift by
    // (-2^32 mod 1000) instead of +1, colliding pairs of salts \u2014
    // powers of two are immune, which is why they can't catch it.
    assert("F8261463.html".hashCode == Int.MaxValue - 252, "fixture hash moved")
    for (file <- Seq("Cubo.html", "M\u00e9trica.html", "x", "F8261463.html");
         width <- Seq(4, 8, 32, 1000); k <- Seq(2, 3, 5, 8, width / 2, width)
           if k >= 2 && k <= width) {
      val sp = new SaltedPartitioner(width)
      val parts = (0 until k).map(s => sp.getPartition(saltKey(file, s))).toSet
      assert(parts.size == k, s"$file k=$k width=$width collided")
    }
    // the partitioner is the exact inverse of the saltKey builder
    val sp = new SaltedPartitioner(1000)
    for (f <- Seq("A.html", "F8261463.html"); s <- Seq(0, 1, 252, 253, 999))
      assert(sp.getPartition(saltKey(f, s)) ==
        math.floorMod(f.hashCode.toLong + s, 1000L).toInt)
    // unsalted keys follow the pinned HashPartitioner rule, so a
    // salted layout and a plain layout disagree ONLY on salted keys
    val sp32 = new SaltedPartitioner(32)
    val hp = new org.apache.spark.HashPartitioner(32)
    Seq("A.html", "relat\u00f3rio_1.html").foreach { f =>
      assert(sp32.getPartition(f) == hp.getPartition(f))
    }
  }

  test("fan-in corpus: measured hot detection engages and stays byte-identical to broadcast") {
    import spark.implicits._
    // every report's primary dataset is THE SAME cube section: the
    // dataset-stage request list concentrates on a file whose index
    // link count is normal, so planning-time detection cannot see it —
    // only the probe-measured per-file request counts can. 600 reqs on
    // one file at width 4 is far over the 2x fair-share threshold
    // (300), so the measured salted leg runs, and output bytes must
    // still equal the broadcast plan's
    val pages = graft.fixtures.MstrGen.pages(600, fanInCube = true)
    val viaBroadcast = MstrPipeline.run(spark, pages, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap
    val viaJoin = MstrJoinPipeline.run(spark,
      spark.createDataset(pages).repartition(4), "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap
    // byte-identity alone cannot prove the salted leg ran (salting is
    // output-invariant by design): assert the measured detector
    // actually fired on this corpus via the run's instrumentation
    assert(MstrJoinPipeline.lastMeasuredHot.get().nonEmpty,
      "measured hot detection did not engage on the fan-in corpus")
    assert(viaJoin.keySet == viaBroadcast.keySet)
    viaBroadcast.foreach { case (rid, json) =>
      assert(viaJoin(rid) == json, s"report $rid diverged on the fan-in corpus")
    }
  }

  test("probe heavy hitters: exact under cap, no false negatives under shed, merge") {
    import MstrJoinPipeline.{Frag, HeavyHitters, ProbeStats}
    // exact regime: fewer distinct keys than cap — counts are exact
    val hh = new HeavyHitters(64)
    (1 to 500).foreach(_ => hh.add("hot"))
    (1 to 10).foreach(i => hh.add(s"cold$i"))
    assert(hh.est("hot") == 500 && hh.shed == 0)
    // shed regime: 10k distinct singletons force compactions around a
    // genuinely hot key — est+shed must never miss it
    val hh2 = new HeavyHitters(64)
    (1 to 1000).foreach(_ => hh2.add("hot"))
    (1 to 10000).foreach(i => hh2.add(s"noise$i"))
    assert(hh2.shed > 0, "sanity: compactions must have happened")
    assert(hh2.est("hot") + hh2.shed >= 1000, "hot key undercount exceeded shed bound")
    // merged sketches keep the guarantee
    val a = new HeavyHitters(64); val b = new HeavyHitters(64)
    (1 to 700).foreach(_ => a.add("hot")); (1 to 5000).foreach(i => a.add(s"an$i"))
    (1 to 700).foreach(_ => b.add("hot")); (1 to 5000).foreach(i => b.add(s"bn$i"))
    a.merge(b)
    assert(a.est("hot") + a.shed >= 1400)
    // ProbeStats end-to-end: per-kind counting + multi-kind hot sets
    val st = new ProbeStats(64)
    (1 to 400).foreach(_ => st.add(Frag(s"F.html", Frag.KDs, Array.emptyByteArray)))
    (1 to 40).foreach(i => st.add(Frag(s"G$i.html", Frag.KDs, Array.emptyByteArray)))
    (1 to 100).foreach(_ => st.add(Frag("rep1", Frag.KFrag, Array.emptyByteArray)))
    assert(st.count(Frag.KDs) == 440 && st.count(Frag.KFrag) == 100)
    // 400 of 440 on one file at width 4: threshold max(64, 220) = 220,
    // half-threshold 110/salt -> ceil(400/110) = 4 salts
    assert(st.hotFiles(Seq(Frag.KDs), 4) == Map("F.html" -> 4))
    // same distribution at width 1: fair share is the whole list — cold
    assert(st.hotFiles(Seq(Frag.KDs), 1).isEmpty)
    // a stage consuming two kinds judges each file against the
    // COMBINED workload's fair share: a file holding all of a tiny
    // kind inside a stage dominated by a spread-out big kind is not a
    // straggler and must not be split
    val st2 = new ProbeStats(64)
    (1 to 100).foreach(_ => st2.add(Frag("F.html", Frag.KAttr, Array.emptyByteArray)))
    (1 to 2000).foreach(i =>
      st2.add(Frag(s"M${i % 40}.html", Frag.KMetric, Array.emptyByteArray)))
    assert(st2.hotFiles(Seq(Frag.KAttr), 4).keySet == Set("F.html"),
      "sanity: judged on its kind alone the file crosses the floor")
    assert(st2.hotFiles(Seq(Frag.KAttr, Frag.KMetric), 4).isEmpty,
      "combined stage workload: 100 of 2100 requests is not a straggler")
    // cross-kind isolation: a flood of distinct metric keys must not
    // evict (or inflate the slack of) a hot FACT file queried against
    // its own kind's total — the stage-F accumulator is exactly this
    // shape (tiny cap to force compactions)
    val st3 = new ProbeStats(8)
    (1 to 20000).foreach(i =>
      st3.add(Frag(s"m$i.html", Frag.KMetric, Array.emptyByteArray)))
    (1 to 300).foreach(_ => st3.add(Frag("fact.html", Frag.KFact, Array.emptyByteArray)))
    (1 to 50).foreach(i => st3.add(Frag(s"f$i.html", Frag.KFact, Array.emptyByteArray)))
    // KFact total 350 at width 4: threshold max(64, 175) = 175 < 300
    assert(st3.hotFiles(Seq(Frag.KFact), 4).keySet == Set("fact.html"),
      "metric-kind compaction pressure leaked into the fact sketch")
  }

  test("frag codec: every payload tag round-trips through of and req, edge values included") {
    import MstrJoinPipeline._
    import graft.mstr._
    // empty, null (written as length -1), non-ASCII and non-BMP text
    val texts = Seq("", null, "plain", "Métrica ação ü", "📊 𝔘 \u0000 end", "a", "b\nc")
    val opts: Seq[Option[String]] = Seq(None, Some(""), Some(null), Some("Relatório 📈"))
    val payloads: Seq[Serializable] = texts.indices.flatMap { i =>
      // field k of row i takes value i + k: neighbouring fields of one
      // payload differ, so a field written or read out of order fails
      def t(k: Int) = texts((i + k) % texts.size)
      def o(k: Int) = opts((i + k) % opts.size)
      val odd = i % 2 == 1
      val pos = if (odd) Seq(i, -1, Int.MaxValue) else Seq.empty[Int]
      val lts = if (odd) List(LogicTable(t(0), t(1), o(0), o(1)),
        LogicTable(t(2), t(3), o(2), o(3))) else Nil
      Seq(
        DsReq(t(0), i, t(1), t(2), t(3), t(4), t(5)),
        AttrReq(t(0), i, -i, t(1), t(2), t(3), t(4), t(5)),
        MetricReq(t(0), i, pos, t(1), t(2), t(3), t(4), o(0),
          if (odd) List(t(5), t(6)) else Nil),
        FactReq(t(0), i, pos, t(1), t(2)),
        SkelFrag(t(0), t(1), if (odd) Some(Owner(t(2), t(3), t(4), o(0), o(1))) else None,
          if (odd) List(AccessControlEntry(t(5), t(6), o(0), o(1), o(2)),
            AccessControlEntry(t(0), t(1), o(1), o(2), o(3))) else Nil),
        DsFrag(i, t(0), t(1), t(2), o(0), o(1)),
        AttrFrag(i, -i, Atributo(t(0), t(1), t(2), t(3), t(4), o(0),
          if (odd) List(Formulario(t(5), t(6), lts), Formulario(t(6), t(0), Nil)) else Nil)),
        MetricNodeFrag(i, pos, t(0), t(1), t(2), t(3), o(0), o(1),
          if (odd) Some(FunctionRef(t(4), t(5), t(6))) else None,
          if (odd) Some(FactRef(t(1), t(2), t(3), lts)) else None),
        FactFrag(i, pos, lts))
    }
    // the first payload of each group covers tags 1..9 in order
    assert(payloads.take(9).map(p => Frag.of("k", p).blob(0).toInt) == (1 to 9))
    def roundTrips(p: Serializable): Unit = {
      val viaOf = Frag.of("rid", p)
      assert(viaOf.report_id == "rid" && viaOf.kind == Frag.KFrag)
      assert(Frag.read(viaOf) == p, s"Frag.of round trip: $p")
      val viaReq = Frag.req(Frag.KMetric, "file.html", p)
      assert(viaReq.report_id == "file.html" && viaReq.kind == Frag.KMetric)
      assert(Frag.read(viaReq) == p, s"Frag.req round trip: $p")
    }
    payloads.foreach(roundTrips)
    // a payload outside the codec fails at write time
    intercept[IllegalArgumentException](Frag.of("k", ReportReq("f", "n", "h", 0)))
    // the codec keeps no shared state: the same table on 4 threads at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = (1 to 50).foreach(_ => payloads.foreach(roundTrips))
      }))
      runs.foreach(_.get(2, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
  }

  test("join path never throws on truncated pages and is partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corrupted = MstrCorpus.pages.map { p =>
      if (rnd.nextBoolean()) p.copy(html = p.html.take(rnd.nextInt(p.html.length + 1)))
      else p
    }
    def run(parts: Int): Map[String, String] =
      MstrJoinPipeline.run(spark, spark.createDataset(corrupted).repartition(parts), "pt-BR")
        .collect().map(r => r.report_id -> r.json).toMap
    val a = run(1)
    val b = run(7)
    assert(a == b, "corrupted-corpus extraction must be partition-invariant")
  }

  test("duplicate base names resolve by greatest url in BOTH plans (byte-identical)") {
    import spark.implicits._
    // shadow every content page with an earlier-url garbage twin: the
    // greatest-url rule must pick the real page in both plans
    val shadowed = MstrCorpus.pages.flatMap { p =>
      val name = p.url.substring(p.url.lastIndexOf('/') + 1)
      Seq(p.copy(url = s"mstr://aaa/$name",
        html = "<html>junk twin</html>".getBytes("ISO-8859-1")), p)
    }
    val viaBroadcast = MstrPipeline.run(spark, shadowed, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap
    val clean = MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap
    assert(viaBroadcast == clean, "broadcast plan must keep the greatest-url page")
    val viaJoin = MstrJoinPipeline.run(spark,
      spark.createDataset(shadowed).repartition(4), "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap
    assert(viaJoin == clean, "join plan must keep the greatest-url page")
  }

  test("mass-duplicated basenames stay correct (dedup is always distributed)") {
    import spark.implicits._
    // every content page shadowed => every basename is duplicated; the
    // greatest-url rule rides the basename layout's reduceByKey, so no
    // duplication cardinality ever materializes a driver-side dup set —
    // output must be byte-identical to the clean broadcast run
    val shadowed = MstrCorpus.pages.flatMap { p =>
      val name = p.url.substring(p.url.lastIndexOf('/') + 1)
      Seq(p.copy(url = s"mstr://aaa/$name",
        html = "<html>junk twin</html>".getBytes("ISO-8859-1")), p)
    }
    val clean = MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR")._1
      .collect().map(r => r.report_id -> r.json).toMap
    val viaJoin = MstrJoinPipeline.run(spark,
      spark.createDataset(shadowed).repartition(4), "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap
    assert(viaJoin == clean,
      "distributed-dedup path must keep the greatest-url page for every basename")
  }

  test("join path drops reports whose content page is missing (engine None semantics)") {
    import spark.implicits._
    val docFile = graft.mstr.MstrLocale.ptBR.documento
    // remove every content page except the index files: no report
    // assembles, but index-only planning still works
    val indexOnly = MstrCorpus.pages.filter { p =>
      val f = p.url.substring(p.url.lastIndexOf('/') + 1)
      f == docFile || f.endsWith(".html") && !f.startsWith("Documento_")
    }
    val out = MstrJoinPipeline.run(spark, spark.createDataset(indexOnly), "pt-BR")
    assert(out.collect().isEmpty)
  }
}
