package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the tracer must drain it before
  * it reads what its listeners recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
