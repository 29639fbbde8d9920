package org.apache.spark

/** The one package-private Spark call the traced run needs: wait until
  * the listener bus has delivered every event posted so far, so a
  * step's jobs and tasks are counted before the next step starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
