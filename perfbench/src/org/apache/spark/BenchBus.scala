package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so the tracer's
  * tallies are complete before they are read. Lives in this package
  * because `SparkContext.listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
