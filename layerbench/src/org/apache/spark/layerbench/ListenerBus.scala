package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus's drain,
  * which Spark keeps package-private.
  */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
