package org.apache.spark

/** Test-only bridge into `private[spark]` listener-bus draining: listener
  * callbacks arrive asynchronously, so a spec that asserts on what a
  * `SparkListener` saw waits for every event posted so far first. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
