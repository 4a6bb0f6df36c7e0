package org.apache.spark
package graftbridge

/** The listener bus is private to Spark; a harness that counts listener
  * events per query drains it here instead of sleeping and hoping the
  * asynchronous bus has caught up (same bridge technique as
  * `SqlBridge`).
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
