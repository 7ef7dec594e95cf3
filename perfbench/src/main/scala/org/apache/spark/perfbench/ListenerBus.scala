package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: the trace must see every
  * event of the jobs it measured before it reports.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
