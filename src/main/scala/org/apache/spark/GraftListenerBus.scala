package org.apache.spark

/** Bridge to the `private[spark]` listener bus: [[drain]] blocks until
  * every event posted so far has been delivered to every listener
  * (bounded: the bus's own 10 s default, TimeoutException past it).
  * [[graft.store.StageMetrics.capture]] drains after its body instead
  * of polling its counters to quiescence. The method is public in
  * bytecode and stable within a Spark line — the same extension idiom
  * as [[org.apache.spark.sql.GraftColumnBridge]].
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
