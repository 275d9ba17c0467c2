package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this object lives under
  * `org.apache.spark` so the benchmark can block until every posted
  * listener event has been delivered, instead of sleeping and hoping.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
