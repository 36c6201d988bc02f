package org.apache.spark

/** Access to the listener bus, which `SparkContext` keeps package-private:
  * the benchmark's meter waits for it to deliver every posted event
  * before it sums what it heard.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
