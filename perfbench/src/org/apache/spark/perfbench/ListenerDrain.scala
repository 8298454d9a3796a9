package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so counters read after an operation include all of its jobs,
  * stages and tasks. `waitUntilEmpty` is `private[spark]`, hence the
  * package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
