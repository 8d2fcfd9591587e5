package org.apache.spark

/** Drains Spark's listener bus, which is only reachable from inside the
  * `org.apache.spark` package. Waiting until every queue is empty means
  * that the tail task-end events of a finished job have been delivered
  * before a tracer reads its buffers.
  */
object GraftBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
