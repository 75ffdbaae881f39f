package org.apache.spark

/** The two Spark-internal calls the benchmark needs. */
object GraftBenchAccess {
  /** Block until every queued listener event has been delivered, so
    * per-op Catalyst and task events can be read outside the timed
    * window. The ingest daemon can keep the shared queue busy for
    * longer than the default 10 s. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  /** Register `listener` on a queue of its own, so a slow listener on
    * the shared queue cannot make Spark drop the benchmark's events. */
  def addListenerOnOwnQueue(sc: SparkContext, listener: scheduler.SparkListenerInterface): Unit =
    sc.listenerBus.addToQueue(listener, "graftbench")
}
