package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus. */
object ListenerBusFence {
  /** Returns once every event posted so far has reached every
    * listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
