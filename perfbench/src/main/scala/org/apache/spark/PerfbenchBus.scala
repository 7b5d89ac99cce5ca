package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before reading its listener, so every job of the measured window has
  * been seen. `waitUntilEmpty` is Spark-private, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
