package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal hook the benchmark needs: draining the listener
  * bus, so every event of a traced pass has been delivered before the
  * spans are computed. Called only between passes, never inside a timed
  * region. */
object BusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
