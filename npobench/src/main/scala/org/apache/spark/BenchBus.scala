package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so that a traced operation's jobs, tasks and query
  * executions are all recorded before the operation's figures are
  * attributed. Only traced runs call it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
