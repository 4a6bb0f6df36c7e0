package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at pass
  * boundaries so every event of a pass is counted in that pass, instead of
  * sleeping and hoping the asynchronous bus has caught up.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
