package org.apache.spark

/** The one package-private call the benchmark needs: wait until every
  * listener has seen every event posted so far, so that an op's task and
  * query metrics are complete when the op's span is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
