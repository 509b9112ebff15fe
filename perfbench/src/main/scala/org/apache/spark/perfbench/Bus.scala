package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it between members so every event a member caused is
  * attributed to that member before the next one starts. */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () } // attribution only
}
