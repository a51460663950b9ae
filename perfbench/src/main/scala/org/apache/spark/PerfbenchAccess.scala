package org.apache.spark

/** The one scheduler hook the traced run needs that Spark keeps
  * package-private: wait until every queued listener event has been
  * delivered, so a request's jobs, stages and tasks are all counted
  * before its figures are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
