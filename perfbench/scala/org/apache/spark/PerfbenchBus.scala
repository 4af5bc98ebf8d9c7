package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * posted listener event has been delivered, so a span's jobs, stages
  * and tasks are all recorded before the listener is detached or read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
