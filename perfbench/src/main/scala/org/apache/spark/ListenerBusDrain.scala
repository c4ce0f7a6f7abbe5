package org.apache.spark

/** Lets the benchmark wait for the asynchronous listener bus to deliver
  * every event posted so far, so that per-operation counters are complete
  * before they are read. The bus is private to Spark's own package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
