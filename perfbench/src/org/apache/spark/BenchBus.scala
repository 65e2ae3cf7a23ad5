package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run waits on
  * it after each timed operation so every listener event lands on the
  * operation that caused it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
