package org.apache.spark

/** The one Spark-internal hook the benchmark's tracer needs: listener
  * events are delivered asynchronously, so a span's counters are only
  * complete once the bus has drained. `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
