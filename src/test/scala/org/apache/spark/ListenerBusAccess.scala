package org.apache.spark

/** The one scheduler hook job-counting specs need that Spark keeps
  * package-private: wait until every queued listener event has been
  * delivered, so every submitted job has been seen before counting. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
