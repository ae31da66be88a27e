package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run
  * drains it before reading what its listeners recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
