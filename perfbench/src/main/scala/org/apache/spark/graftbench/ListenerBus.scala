package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; this accessor lives under
  * `org.apache.spark` only to reach it. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
