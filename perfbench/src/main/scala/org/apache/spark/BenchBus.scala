package org.apache.spark

/** Exposes the listener bus drain that Spark keeps package-private: after
  * it returns, every event posted before the call has reached every
  * listener, so counters read afterwards are exact instead of "whatever
  * arrived so far".
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
