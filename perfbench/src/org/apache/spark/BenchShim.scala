package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so a traced pass's job
  * and query records are complete before they are read. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
