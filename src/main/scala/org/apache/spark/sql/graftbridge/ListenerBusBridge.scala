package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Visibility bridge: the listener-bus drain is `private[spark]`;
  * [[graft.Bench]] drains it before reading its listener's counters. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
