package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`: specs that count
  * jobs with a `SparkListener` drain the bus before reading the count,
  * since events reach listeners asynchronously. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
