package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run calls it before reading its listener, so no task-end
  * event of a finished job is still queued.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
