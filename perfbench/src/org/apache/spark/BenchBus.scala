package org.apache.spark

/** Lives in Spark's package for one reason: the listener bus drain is
  * package-private. Draining before reading listener state is what makes
  * the per-call job and stage records complete.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
