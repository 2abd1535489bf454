package org.apache.spark

/** Exposes the listener bus drain that Spark keeps package-private: after
  * it returns, every event posted before the call has reached every
  * listener, so a test's listener counts are exact.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
