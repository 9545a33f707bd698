package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark drains it at every
  * op boundary so each op's job, stage, task, query and streaming events
  * are delivered before the next op starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
