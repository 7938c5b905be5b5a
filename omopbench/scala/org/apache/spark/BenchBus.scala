package org.apache.spark

/** Access to the `private[spark]` listener bus: a traced op's window closes
  * only after every event it posted has reached the listeners.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
