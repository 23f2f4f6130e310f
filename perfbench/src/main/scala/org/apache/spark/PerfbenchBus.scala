package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * a traced run must see every job and task event before it attributes
  * them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Bytes the block managers' stores hold in memory: cached partitions and broadcast pieces. */
  def storageUsed(sc: SparkContext): Long =
    sc.env.blockManager.master.getMemoryStatus.values.map { case (max, free) => max - free }.sum
}
