package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Hot-basename skew probe for the join-based MSTR plan
  * (Test/runMain graft.MstrHotSkewBench): generates a corpus whose
  * EVERY cube section lives in one content file (`MstrGen.pages(n,
  * hotCubes = true)`), so the whole dataset-stage request list keys to
  * a single basename. Under the pinned by-file partitioner that file's
  * requests all land in one partition — the suspected straggler.
  *
  * Reports wall seconds plus max/median TASK seconds over the run (a
  * straggler shows as max ≈ wall while the median stays tiny).
  *
  * Env knobs: MSTR_GEN_N (reports, default 20000), MSTR_CORES (default
  * 8), MSTR_REPS (default 2), MSTR_SHAPE (hot | even | fanin, default
  * hot — `hot` packs all cube SECTIONS in one file so the skew is
  * index-visible; `fanin` points every report at ONE shared cube
  * section so the skew is request-traffic-only and invisible to
  * planning-time link counts; `even` is the control), MSTR_HOT=0 is a
  * legacy alias for MSTR_SHAPE=even.
  */
object MstrHotSkewBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("MSTR_GEN_N", "20000").toInt
    val cores = sys.env.getOrElse("MSTR_CORES", "8").toInt
    val reps = sys.env.getOrElse("MSTR_REPS", "2").toInt
    val shape = sys.env.getOrElse("MSTR_SHAPE",
      if (sys.env.get("MSTR_HOT").contains("0")) "even" else "hot")
    // a typo'd shape must fail, not silently benchmark the even layout
    // under the requested label
    require(Set("hot", "even", "fanin").contains(shape),
      s"MSTR_SHAPE must be hot|even|fanin, got '$shape'")
    val hot = shape == "hot"
    val fanIn = shape == "fanin"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pages = graft.fixtures.MstrGen.pages(n, hotCubes = hot, fanInCube = fanIn)
    val maxFile = pages.maxBy(_.html.length)
    println(s"PROF corpus: n=$n reports, ${pages.size} pages, " +
      s"${pages.map(_.html.length.toLong).sum / 1024} KiB total, " +
      s"largest file ${maxFile.url} = ${maxFile.html.length / 1024} KiB, " +
      s"cores=$cores shape=$shape")

    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.add(e.taskMetrics.executorRunTime)
    })

    val walls = (1 to reps).map { _ =>
      taskMs.clear()
      val t0 = System.nanoTime()
      val res = graft.mstr.MstrJoinPipeline.run(spark,
        spark.createDataset(pages).repartition(cores), "pt-BR",
        internalShufflePartitions = cores)
      val c = res.count()
      val wall = (System.nanoTime() - t0) / 1e9
      res.unpersist(blocking = false)
      Thread.sleep(500) // let the listener bus drain
      import scala.jdk.CollectionConverters._
      val secs = taskMs.asScala.map(_ / 1e3).toSeq.sorted
      (wall, c, secs)
    }
    val (wall, rows, secs) = walls.minBy(_._1)
    val mx = if (secs.nonEmpty) secs.last else 0.0
    val md = if (secs.nonEmpty) secs(secs.length / 2) else 0.0
    println(f"""{"metric":"mstr_hot_skew","shape":"$shape","rows":$rows,"wall_sec":$wall%.2f,"tasks":${secs.length},"task_sec_max":$mx%.2f,"task_sec_median":$md%.3f,"straggler_ratio":${if (md > 0) mx / md else 0.0}%.1f,"cores":$cores,"n":$n}""")
    spark.stop()
  }
}
