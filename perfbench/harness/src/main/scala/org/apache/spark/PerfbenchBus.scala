package org.apache.spark

/** Access to Spark internals the traced run needs: the private listener
  * bus, so it waits until every posted event has reached its listener
  * instead of sleeping, and the app status store's job list, an account of
  * the jobs kept apart from the benchmark's own listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def jobIds(sc: SparkContext): Seq[Int] = sc.statusStore.jobsList(null).map(_.jobId)
}
