package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the tracer drains it
  * before it reads a call's counters, or the call's last tasks would be
  * missing. `listenerBus` is private to the spark package, hence this
  * shim's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
