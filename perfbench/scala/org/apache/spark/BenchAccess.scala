package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so a span's counters are complete only
  * after the bus has drained. `waitUntilEmpty` is `private[spark]`,
  * hence this shim in Spark's package. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
