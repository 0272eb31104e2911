package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every
  * listener event posted so far has been delivered, so per-op counters
  * read after an op include all of that op's task and job events.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
