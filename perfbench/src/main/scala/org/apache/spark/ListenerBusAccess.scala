package org.apache.spark

/** The listener bus is Spark-internal. The benchmark's recorder needs to
  * wait until every event posted so far has reached its listeners, so
  * this one call is exposed from inside Spark's package.
  */
object ListenerBusAccess {
  /** Blocks until every listener queue is empty; throws a
    * `TimeoutException` past `timeoutMs`.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
