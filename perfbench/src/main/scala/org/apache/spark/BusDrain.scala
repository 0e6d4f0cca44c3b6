package org.apache.spark

/** The listener bus is asynchronous; the traced run drains it at op
  * boundaries so every job, stage and task event of an op has arrived
  * before the op's numbers are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
