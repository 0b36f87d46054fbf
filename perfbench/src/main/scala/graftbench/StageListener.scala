package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One finished task, as the traced run keeps it. Times in ms. */
final case class TaskRec(stageId: Int, attempt: Int, launch: Long, finish: Long,
                         runMs: Long, gcMs: Long, fetchWaitMs: Long,
                         inputRecords: Long, shuffleReadBytes: Long, shuffleReadRecords: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         memSpill: Long, diskSpill: Long, bytesWritten: Long)

final case class StageRec(stageId: Int, attempt: Int, jobId: Int, name: String,
                          numTasks: Int, parents: Seq[Int], scopes: Seq[String],
                          rddIds: Seq[Int], rddParentIds: Seq[Int],
                          submitted: Long, completed: Long) {
  /** RDDs this stage reads across a shuffle: parents of its RDDs that
    * belong to some other stage.
    */
  def shuffleInputs: Seq[Int] = rddParentIds.filterNot(rddIds.contains)
}

final case class JobRec(jobId: Int, group: String, start: Long, end: Long, stageIds: Seq[Int])

/** Task, stage and job records of the traced run.
  *
  * Registered only for the traced reps, never for the timed ones. The
  * listener bus calls it from its own thread; every write and every read
  * holds this object's lock, and [[snapshot]] first drains the bus and
  * then waits until each completed stage has all of its task-end events.
  */
final class StageListener extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += StageRec(si.stageId, si.attemptNumber(), stageJob.getOrElse(si.stageId, -1), si.name,
      si.numTasks, si.parentIds, si.rddInfos.flatMap(_.scope.map(_.name)).distinct,
      si.rddInfos.map(_.id), si.rddInfos.flatMap(_.parentIds).distinct,
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      tasks += TaskRec(e.stageId, e.stageAttemptId, info.launchTime, info.finishTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.fetchWaitTime,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  def reset(): Unit = synchronized {
    tasks.clear(); stages.clear(); jobs.clear(); stageJob.clear()
  }

  /** Copies of the records after the bus has delivered everything.
    * Returns the number of task-end events still missing for completed
    * stages after the wait (0 when nothing was dropped).
    */
  def snapshot(sc: SparkContext): (Seq[JobRec], Seq[StageRec], Seq[TaskRec], Int) = {
    var missing = Int.MaxValue
    var tries = 0
    while (missing > 0 && tries < 50) {
      org.apache.spark.BenchBus.drain(sc)
      missing = synchronized {
        val seen = tasks.groupBy(t => (t.stageId, t.attempt)).map { case (k, v) => k -> v.size }
        stages.map(s => math.max(0, s.numTasks - seen.getOrElse((s.stageId, s.attempt), 0))).sum
      }
      if (missing > 0) Thread.sleep(20)
      tries += 1
    }
    synchronized { (jobs.values.toList, stages.toList, tasks.toList, missing) }
  }
}

/** Per-stage and per-job figures derived from the listener records. */
object StageStats {

  /** One JSON-ready record per stage: task count, run-time p50/p99/max,
    * GC, shuffle bytes and records, spill, fetch wait, and the DS2 true
    * processing rate (records in ÷ (run time − fetch wait − GC)).
    */
  def perStage(stages: Seq[StageRec], tasks: Seq[TaskRec]): Seq[Map[String, Any]] = {
    val byStage = tasks.groupBy(t => (t.stageId, t.attempt))
    stages.sortBy(s => (s.stageId, s.attempt)).map { s =>
      val ts = byStage.getOrElse((s.stageId, s.attempt), Nil)
      val runs = ts.map(_.runMs / 1e3)
      val run = runs.sum
      val gc = ts.map(_.gcMs).sum / 1e3
      val fetch = ts.map(_.fetchWaitMs).sum / 1e3
      val recordsIn = ts.map(t => t.inputRecords + t.shuffleReadRecords).sum
      val useful = run - fetch - gc
      Map[String, Any](
        "stage" -> s.stageId, "attempt" -> s.attempt, "job" -> s.jobId,
        "name" -> s.name, "scopes" -> s.scopes, "parents" -> s.parents,
        "tasks" -> ts.size, "num_tasks" -> s.numTasks,
        "wall_s" -> (if (s.completed >= s.submitted && s.submitted >= 0) (s.completed - s.submitted) / 1e3 else 0.0),
        "task_s_p50" -> (if (runs.isEmpty) 0.0 else Stats.percentile(runs, 50)),
        "task_s_p99" -> (if (runs.isEmpty) 0.0 else Stats.percentile(runs, 99)),
        "task_s_max" -> (if (runs.isEmpty) 0.0 else runs.max),
        "run_s" -> run, "gc_s" -> gc, "fetch_wait_s" -> fetch,
        "records_in" -> recordsIn,
        "shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum,
        "shuffle_read_records" -> ts.map(_.shuffleReadRecords).sum,
        "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum,
        "shuffle_write_records" -> ts.map(_.shuffleWriteRecords).sum,
        "memory_spill_bytes" -> ts.map(_.memSpill).sum,
        "disk_spill_bytes" -> ts.map(_.diskSpill).sum,
        "bytes_written" -> ts.map(_.bytesWritten).sum,
        "ds2_records_per_s" -> Stats.ratio(recordsIn.toDouble, useful))
    }
  }

  /** Whole-window figures for the tasks that ran in `[lo, hi)` (epoch ms). */
  final case class Window(jobs: Int, stages: Int, tasks: Int, coreUtil: Double,
                          taskP50: Double, taskMax: Double, straggler: Double,
                          gcFrac: Double, driverGapS: Double, shuffleWriteMb: Double,
                          shuffleWriteRecords: Long, spillMb: Double, fetchWaitS: Double,
                          fetchWaitFrac: Double, bytesWritten: Long) {
    def shuffleBytesPerRecord: Double =
      Stats.ratio(shuffleWriteMb * 1048576.0, shuffleWriteRecords.toDouble)

    /** The figures by short name, for a layer's prefix to be put on. */
    def byName: Map[String, Double] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "core_util" -> coreUtil,
      "task_s_p50" -> taskP50, "task_s_max" -> taskMax, "straggler_ratio" -> straggler,
      "gc_frac" -> gcFrac, "driver_gap_s" -> driverGapS, "shuffle_write_mb" -> shuffleWriteMb,
      "shuffle_bytes_per_record" -> shuffleBytesPerRecord, "spill_mb" -> spillMb,
      "fetch_wait_s" -> fetchWaitS, "fetch_wait_frac" -> fetchWaitFrac)
  }

  def window(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec],
             lo: Long, hi: Long, cores: Int): Window = {
    val ts = tasks.filter(t => t.launch >= lo && t.finish <= hi)
    val runs = ts.map(_.runMs / 1e3)
    val run = runs.sum
    val wall = math.max(hi - lo, 1L) / 1e3
    val p50 = if (runs.isEmpty) 0.0 else Stats.median(runs)
    val mx = if (runs.isEmpty) 0.0 else runs.max
    val swb = ts.map(_.shuffleWriteBytes).sum
    val fetch = ts.map(_.fetchWaitMs).sum / 1e3
    Window(
      jobs = jobs.count(j => j.start >= lo && j.start < hi),
      stages = stages.count(s => s.submitted >= lo && s.submitted < hi),
      tasks = ts.size,
      coreUtil = run / (wall * cores),
      taskP50 = p50, taskMax = mx, straggler = Stats.ratio(mx, p50),
      gcFrac = Stats.ratio(ts.map(_.gcMs).sum / 1e3, run),
      driverGapS = (hi - lo - Stats.coveredLength(ts.map(t => (t.launch, t.finish)), lo, hi)) / 1e3,
      shuffleWriteMb = swb / 1048576.0,
      shuffleWriteRecords = ts.map(_.shuffleWriteRecords).sum,
      spillMb = ts.map(t => t.diskSpill).sum / 1048576.0,
      fetchWaitS = fetch,
      fetchWaitFrac = Stats.ratio(fetch, run),
      bytesWritten = ts.map(_.bytesWritten).sum)
  }
}
