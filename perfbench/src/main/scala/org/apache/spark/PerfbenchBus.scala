package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the benchmark reads its listeners' counters only after every event
  * posted so far has been delivered.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
