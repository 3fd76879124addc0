package org.apache.spark

/** Spark internals the benchmark waits on. They are private to Spark;
  * this object lives in Spark's package to reach them. */
object PerfbenchBus {
  /** Wait until the listener bus has delivered every queued event, so a
    * traced phase's report sees all of its jobs and tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cached RDD blocks any block manager still holds; an asynchronous
    * unpersist leaves them in memory for a while. */
  def rddBlocks(sc: SparkContext): Int =
    sc.env.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum
}
