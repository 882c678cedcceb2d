package org.apache.spark

/** The listener bus is private to Spark; a traced span must see every
  * job, task and query-execution event it caused before its counters are
  * read, so the benchmark drains the bus the way Spark's own suites do. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
