package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener-bus flush, so the traced run
  * can read an operation's events after its timed window closes.
  */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
