package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the harness drains the bus
  * before it reads what a listener has counted. `listenerBus` is
  * Spark-private, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
