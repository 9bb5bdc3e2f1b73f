package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flush of the `private[spark]` listener bus, so listener-built spans are
  * complete before the harness reads them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
