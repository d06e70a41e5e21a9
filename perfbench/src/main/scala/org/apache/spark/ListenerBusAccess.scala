package org.apache.spark

/** The listener bus delivers task events asynchronously; the traced run
  * reads task metrics only after every event has reached its listener.
  * `SparkContext.listenerBus` is package-private, hence this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
