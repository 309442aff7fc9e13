package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so a pass's job, task, query and streaming events
  * are all counted before the pass's figures are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
