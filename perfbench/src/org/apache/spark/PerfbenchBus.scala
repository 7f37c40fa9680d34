package org.apache.spark

/** Same-package access to the listener bus drain, so counts read right
  * after an action include every event that action posted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
