package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so a test's listener has seen all jobs of the call it measured.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
