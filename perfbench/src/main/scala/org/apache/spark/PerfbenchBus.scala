package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every task-end event of an op before it
  * attributes task metrics to that op's spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
