package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to drain, so that the
  * events of one query are all counted before the next query starts.
  * `listenerBus` is private to the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
