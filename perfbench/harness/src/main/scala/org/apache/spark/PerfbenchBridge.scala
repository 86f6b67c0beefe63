package org.apache.spark

/** Access to the one `private[spark]` call the trace recorder needs:
  * waiting until the listener bus has delivered every posted event, so
  * the events of one query are all counted before the next one starts.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
