package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scan-parallelism guard (guide §2.5 "input skew" / §6 input split
  * sizing): a small corpus arrives as ONE parquet split, so every
  * row-heavy projection upstream of the first exchange — page
  * synthesis, codec decode, shingle explode — runs single-threaded
  * while the rest of the machine idles. [[spread]] hash-repartitions on
  * a deterministic key up to the session's default parallelism, but
  * ONLY when the source table's scan yields fewer splits than that: at
  * production scale (thousands of splits per table) the probe reports
  * the layout already parallel and NO shuffle is added — the guard is
  * derived from input size and session parallelism, never a constant
  * tuned for either local mode or the cluster.
  *
  * The probe is pure file metadata (file bytes / maxPartitionBytes —
  * conservative: it ignores openCostInBytes packing, which can only
  * UNDERcount splits and spread a layout that was marginally parallel
  * already), never an action on `df`, so plan building stays lazy.
  *
  * Deterministic hash key, not round-robin `repartition(n)`: no
  * sort-before-repartition pass is paid, and retried tasks reproduce
  * the same row placement (the SPARK-38388 failure class). Keys are
  * dense row ids, so hash occupancy is even (≫20 distinct keys per
  * partition, guide §2.5).
  */
object Par {

  /** Estimated scan split count for the parquet file/dir at `path`. */
  private def scanSplits(spark: SparkSession, path: String): Long = {
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var splits = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith("."))
        splits += (f.getLen + maxSplit - 1) / maxSplit
    }
    splits
  }

  /** `df` repartitioned by `key` to the session's parallelism iff the
    * backing table at `dir/name.parquet` scans in fewer splits; the
    * result SET is unchanged (row-local consumers only).
    */
  def spread(df: DataFrame, dir: String, name: String = "documents",
             key: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    if (scanSplits(spark, s"$dir/$name.parquet") >= n) df
    else df.repartition(n, col(key))
  }
}
