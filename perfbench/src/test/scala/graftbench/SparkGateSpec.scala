package graftbench

import graft.ops.DedupOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The checks that need Spark: brute-force dedup against the real
  * operators under two seeds, and the listener's drain.
  */
class SparkGateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val tmp = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(tmp)
  }

  private def prefixGate(seed: Long, docs: Int): (GateResult, String) = {
    import spark.implicits._
    val dir = tmp.resolve(s"docs-$seed").toString
    val text = CorpusDedup.textOf(seed)
    val rows = (0L until docs).map(i => (i, text(i)))
    rows.toDF("doc_id", "text").repartition(3).write.parquet(s"$dir/documents.parquet")
    def out(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("doc_id"), col(c), col("digest")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val m = docs / 2L
    val prefix = rows.filter(_._1 <= m)
    val g = Gate.dedupPrefix("span", Gate.BruteDedup.span(prefix),
        out(DedupOps.spanDedup(spark, dir), "n_removed").filter(_._1 <= m)) ++
      Gate.dedupPrefix("para", Gate.BruteDedup.para(prefix),
        out(DedupOps.paraDedup(spark, dir), "n_kept").filter(_._1 <= m))
    (g, Gate.md5Hex(rows.map(_._2).mkString("\n")))
  }

  test("brute-force first-wins matches DedupOps on the prefix, under two seeds") {
    val (g1, in1) = prefixGate(1, 120)
    val (g2, in2) = prefixGate(2, 120)
    assert(in1 != in2, "the seed must change the input")
    assert(g1.ok, g1.notes)
    assert(g2.ok, g2.notes)
    // the corpus has real repeats, so the check is not vacuous
    assert(Gate.BruteDedup.span((0L to 60L).map(i => i -> CorpusDedup.textOf(1)(i)))
      .values.exists(_._1 > 0))
  }

  test("the listener sees every task of every stage after the drain") {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    try {
      spark.range(0, 10000, 1, 7).repartition(5).selectExpr("sum(id)").collect()
      val (jobs, stages, tasks, missing) = l.snapshot(spark.sparkContext)
      assert(missing == 0)
      assert(jobs.nonEmpty)
      stages.foreach(s => assert(tasks.count(t => t.stageId == s.stageId) == s.numTasks))
      assert(stages.exists(_.numTasks == 7))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
