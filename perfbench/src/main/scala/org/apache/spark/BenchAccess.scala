package org.apache.spark

/** The one package-private hook the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so that a span's
  * jobs, stages and query executions are all recorded before the span's
  * figures are read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
