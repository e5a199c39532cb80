package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The benchmark reads its listeners only after this, so counters for a
  * finished pass are complete. Lives in this package because the
  * listener bus is Spark-internal. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
