package org.apache.spark

/** Waits until every listener queue has delivered its events, so counts
  * read after an operation include all of that operation's jobs, tasks,
  * block updates and stream progress events. The listener bus is
  * `private[spark]`; this one-line shim is why the file sits in Spark's
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
