package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps
  * package-private: a spec that counts listener events reads its
  * counters only after every queued event is delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
