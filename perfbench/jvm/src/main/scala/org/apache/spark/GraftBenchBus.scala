package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * reads its listeners' totals only after every posted event has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line bridge in Spark's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
