package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The harness drains between ops, outside the timed region, so every
  * event an op caused has reached the listeners before the next op starts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
