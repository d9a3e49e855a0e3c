package org.apache.spark

/** Package-placed access to `SparkContext.listenerBus`, which is
  * private[spark]: the traced run waits until every task, job and progress
  * event it caused has reached its listeners before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
