package org.apache.spark

/** Access to the listener bus's `private[spark]` drain, so the benchmark
  * reads its listeners only after every posted event has been delivered.
  */
object CdcBenchBridge {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
