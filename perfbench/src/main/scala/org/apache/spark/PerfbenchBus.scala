package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run drains
  * it before reading its listeners, so every event of an operation is
  * counted against that operation. `waitUntilEmpty` is package-private
  * to Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
