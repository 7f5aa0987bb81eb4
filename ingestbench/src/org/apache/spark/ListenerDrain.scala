package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the benchmark reads complete job, task and query-execution counts.
  * (The bus is package-private to Spark; this is the only reason the
  * benchmark declares a class in Spark's package.)
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
