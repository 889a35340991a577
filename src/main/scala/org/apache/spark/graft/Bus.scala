package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a profiler drains it after each run so every listener event is counted
  * against the run that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
