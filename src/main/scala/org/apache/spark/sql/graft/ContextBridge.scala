package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge into SparkContext's `private[spark]` surface, for the same
  * reason as [[ColumnBridge]].
  */
object ContextBridge {
  /** Wait for the listener bus to deliver every posted event; throws a
    * TimeoutException after `timeoutMs`.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Drop an RDD's blocks as Spark's ContextCleaner does: `RDD.unpersist`
    * without its "cannot be recomputed" WARN and storage-level reset.
    */
  def unpersistRDD(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
