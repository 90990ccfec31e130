package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and exposes its drain
  * only inside the `org.apache.spark` package. Specs that count jobs or
  * capture plans drain it before they read what their listeners saw.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
