package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so job and stage records are complete when a query's action
  * returns. The bus is private to Spark; this object lives in its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
