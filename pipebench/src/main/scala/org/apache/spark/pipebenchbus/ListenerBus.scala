package org.apache.spark.pipebenchbus

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and exposes its drain
  * only inside the `org.apache.spark` package. The tracer drains it at span
  * edges so every event of a wrapped call is seen before the span closes. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
