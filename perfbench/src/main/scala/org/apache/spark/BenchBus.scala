package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event of
  * the jobs that already finished (the listener bus is asynchronous and
  * its drain is package-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
