package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them reads its
  * totals only after everything posted so far has been delivered. The
  * listener bus is Spark-internal, hence this package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
