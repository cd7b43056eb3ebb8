package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * a test reads its listeners only after every event posted so far has
  * been delivered.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
