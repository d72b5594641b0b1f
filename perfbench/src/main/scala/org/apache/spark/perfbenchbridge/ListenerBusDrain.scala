package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The traced run calls it at each span boundary, so the jobs, tasks and
  * query executions of one layer call are attributed before the next call
  * starts. `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
