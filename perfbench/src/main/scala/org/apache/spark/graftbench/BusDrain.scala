package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access shim for the `private[spark]` listener bus: the tracer waits for
  * every queued listener event of an entry to be delivered before the next
  * entry starts, so events are attributed to the entry that caused them. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
