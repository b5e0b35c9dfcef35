package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: the harness waits
  * for every event of an iteration before it reads the listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
