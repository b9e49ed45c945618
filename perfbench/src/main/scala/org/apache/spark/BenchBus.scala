package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * census read after an action sees all of that action's jobs and
  * tasks (the bus is asynchronous and its drain call is Spark-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
