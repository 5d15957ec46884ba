package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * listener of the active context has seen every event posted so far, so
  * a span closed after an action sees that action's jobs, stages and tasks.
  */
object BenchBus {
  def drain(): Unit = SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty())
}
