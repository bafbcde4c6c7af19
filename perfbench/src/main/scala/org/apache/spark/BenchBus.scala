package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads task metrics from a listener, and listener events
  * arrive asynchronously, so an op's counters are read only after the
  * bus has delivered every event the op produced. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
