package org.apache.spark

/** Lets the benchmark wait until every event posted so far has reached
  * its listeners, so per-op trace diffs are complete when taken. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
