package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus (`private[spark]`). */
object ListenerBus {
  /** every event posted so far has reached every listener */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
