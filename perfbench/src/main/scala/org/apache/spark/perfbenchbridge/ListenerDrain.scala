package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Spark posts listener events asynchronously; the benchmark reads its
  * listener's totals only after the bus has delivered every event of the
  * actions it just ran. The wait is `private[spark]`, hence this
  * one-object subpackage.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
