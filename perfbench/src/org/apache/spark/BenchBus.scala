package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so that every job, stage and task event of an op has been
  * delivered before the op's counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
