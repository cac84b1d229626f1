package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * queued listener event has been delivered, so stage metrics of a just
  * finished action are complete before they are read. */
object SparkBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
