package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** Access to Spark's listener bus, which is private to Spark's own
  * packages. */
object PerfbenchBus {
  /** Adds `l` on a queue of its own, so its events do not wait behind
    * those of Spark's other listeners. */
  def add(sc: SparkContext, l: SparkListenerInterface): Unit =
    sc.listenerBus.addToQueue(l, "perfbench")

  /** Waits until the bus has delivered every posted event, so a traced
    * phase's job and task events are all counted before the benchmark
    * reads them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
