package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; `graft.Dev time`
  * needs to drain it so listener-collected stage metrics are
  * complete before they are read. Namespace re-export only. */
object scbridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
