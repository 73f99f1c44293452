package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so counters read after an
  * operation include all of that operation's jobs, tasks and progress.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
