package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a traced pass's counts are complete when it is read.
  * `waitUntilEmpty` is package-private to Spark, hence the package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
