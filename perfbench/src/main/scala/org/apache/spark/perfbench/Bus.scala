package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads its
  * listeners only after every queued event has been delivered. The drain
  * call is Spark-internal, hence this one-method bridge in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
