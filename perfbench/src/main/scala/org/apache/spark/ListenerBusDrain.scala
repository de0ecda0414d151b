package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a traced
  * op's task metrics are counted before its listener is detached. The bus
  * is `private[spark]`, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
