package org.apache.spark

/** Minimal bridge to `private[spark]` SparkContext internals, the sibling of
  * `org.apache.spark.sql.GraftShim` one package up: `graft.TaskLog` (and
  * the benchmark harness's `JobLoop`) needs a DETERMINISTIC listener-bus
  * drain before it reads its events (the async bus delivers task-end events
  * after the job returns; a sleep only makes the race rarer). This adds no
  * behavior.
  */
object GraftSparkShim {

  /** Block until every event posted so far has been delivered to all
    * registered listeners (or the timeout elapses).
    */
  def waitListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
