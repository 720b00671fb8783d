package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * spec reads complete listener-side records. Lives in Spark's package
  * because the listener bus is `private[spark]`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
