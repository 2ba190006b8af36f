package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so span and counter
  * reads at a unit boundary see all of the unit's jobs, stages,
  * query-execution and streaming-progress events. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
