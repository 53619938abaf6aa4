package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * after `drain` every event an action posted has reached its listeners, so
  * job counts and captured plans read right after the action are final.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
