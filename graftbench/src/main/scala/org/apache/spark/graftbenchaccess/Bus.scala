package org.apache.spark.graftbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; tracing needs to wait until every
  * event of a finished call has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
