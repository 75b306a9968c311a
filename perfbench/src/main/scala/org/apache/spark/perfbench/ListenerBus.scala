package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches Spark's listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Blocks until every event posted so far has reached the listeners, so
    * the task metrics of a job that just returned are all counted. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
