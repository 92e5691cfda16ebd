package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: drain the listener
  * bus at a pass boundary, so every event of a pass reaches the tracer
  * before the pass is closed.
  */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
