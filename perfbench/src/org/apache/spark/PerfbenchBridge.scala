package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the traced run drains it
  * so every job, stage and task event has reached the recorder before the
  * run reads its metrics.
  */
object PerfbenchBridge {
  def flushListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
