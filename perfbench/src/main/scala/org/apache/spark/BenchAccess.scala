package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the
  * listener bus has delivered every posted event, so the trace holds
  * all jobs, stages and executions of a finished operation.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
