package org.apache.spark

/** Test access to the `private[spark]` listener bus. */
object ListenerBusShim {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
