package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen a job's task ends before they are read.
  * The bus's drain call is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
