package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** The two scheduler internals the benchmark reads: draining the listener
  * bus before the traced aggregates are written, and the block manager
  * master's synchronous view of cached RDD blocks. Both are package-private
  * to `org.apache.spark`, hence this shim.
  */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (distinct cached RDDs, bytes of their in-memory blocks) right now. */
  def cachedRdds(sc: SparkContext): (Int, Long) = {
    val blocks = sc.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.toSeq)
    val rdds = blocks.collect { case (RDDBlockId(rdd, _), _) => rdd }.distinct
    (rdds.size, blocks.map(_._2.memSize).sum)
  }
}
