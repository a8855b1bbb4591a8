package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on an asynchronous bus. The harness reads
  * a gate's layer numbers only after every event that gate posted has been
  * delivered; `waitUntilEmpty` is the one way to know that, and it is
  * `private[spark]`, hence this package. Nothing else here reaches past
  * Spark's public listener API.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
