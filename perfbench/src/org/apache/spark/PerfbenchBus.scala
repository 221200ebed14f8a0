package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters are read only after every event of finished work has been
  * delivered to the benchmark's listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
