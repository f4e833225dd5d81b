package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the one `private[spark]` member the harness needs: draining the
  * listener bus, so that a measurement window closes only after every event
  * of the work inside it has reached the harness's listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
