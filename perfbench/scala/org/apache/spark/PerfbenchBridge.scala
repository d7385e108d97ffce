package org.apache.spark

/** The one package-private hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so an operation's
  * jobs, stages, tasks and query phases are all recorded before the
  * next operation starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
