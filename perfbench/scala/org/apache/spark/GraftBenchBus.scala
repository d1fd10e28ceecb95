package org.apache.spark

/** Drains Spark's listener bus, so every event of the work that just
  * finished has reached the benchmark's listeners before their counters are
  * read. `listenerBus` is package-private to `org.apache.spark`. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
