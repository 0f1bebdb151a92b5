package org.apache.spark

/** The one package-private call the tracer needs: block until every
  * listener has seen every event posted so far, so a query's jobs,
  * tasks, block updates and plans are all counted before the next query
  * starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
