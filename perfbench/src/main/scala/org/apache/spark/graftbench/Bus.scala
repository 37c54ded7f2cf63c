package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The tracer drains before it detaches its listeners, so no event of a
  * traced round is dropped. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
