package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so a
  * counter snapshot taken right after a call includes that call's task ends.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
