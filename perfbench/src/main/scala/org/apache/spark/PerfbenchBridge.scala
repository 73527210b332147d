package org.apache.spark

/** The one package-private call the harness needs: block until every
  * listener event posted so far has been delivered, so a traced
  * round's counters are complete when they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
