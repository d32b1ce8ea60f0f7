package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The driver's listener bus delivers events asynchronously; a count taken
  * by a listener is complete only once the bus has drained.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
