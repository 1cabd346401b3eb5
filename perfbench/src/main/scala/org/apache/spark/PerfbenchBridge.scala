package org.apache.spark

/** The one engine-internal call the harness needs: wait until the listener
  * bus has delivered every posted event, so no job, task or execution event
  * of the run is still queued when its spans are written out. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
