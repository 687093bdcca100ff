package org.apache.spark

/** The listener bus delivers events asynchronously; specs that count a
  * listener's events wait for it to drain first (a package-private read). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
