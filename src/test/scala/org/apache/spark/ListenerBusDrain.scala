package org.apache.spark

/** Test-scope access to the active `SparkContext`'s listener bus. The bus
  * delivers events on its own thread, so a listener that counts jobs must
  * wait for it to drain before its count is read. Lives in this package
  * because `SparkContext.listenerBus` is `private[spark]`. */
object ListenerBusDrain {

  def drain(): Unit = SparkContext.getOrCreate().listenerBus.waitUntilEmpty()
}
