package org.apache.spark

/** Access to the listener bus's own drain, which Spark keeps package
  * private: returns once every event posted so far has reached every
  * listener, or throws a TimeoutException after `timeoutMs`. */
object GraftBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
