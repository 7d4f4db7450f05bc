package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's totals only after every event of the traced window has
  * been delivered. `waitUntilEmpty` is package-private to Spark, hence
  * this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
