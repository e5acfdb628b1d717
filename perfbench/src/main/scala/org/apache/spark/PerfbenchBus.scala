package org.apache.spark

/** Drains the listener bus, whose handle is package-private to Spark,
  * so that events of work already finished are delivered before the
  * benchmark closes the span that work ran in.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
