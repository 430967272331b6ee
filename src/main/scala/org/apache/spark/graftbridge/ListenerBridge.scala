package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus — Spark's event bus is
  * ASYNCHRONOUS, so a metrics listener removed right after an action can
  * miss the trailing task-end events still queued. Measurement harnesses
  * (graft.Bench) drain the bus before reading their tallies.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
