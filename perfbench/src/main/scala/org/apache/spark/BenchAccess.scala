package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * event posted so far has reached every listener, so an operation's
  * jobs, tasks and query events are all counted before its numbers are
  * read. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
