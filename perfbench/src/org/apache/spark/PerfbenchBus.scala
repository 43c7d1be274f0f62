package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so a query's counts
  * are complete before they are read. Lives in Spark's package because
  * `SparkContext.listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
