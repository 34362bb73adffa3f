package org.apache.spark

/** The one non-public call the harness needs: wait until every listener
  * has seen every posted event, so a pass's counters are complete before
  * they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
