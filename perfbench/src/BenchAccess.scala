package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private, so
  * the tracer reads job and stage events only after all have arrived.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
