package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so that every event a span
  * caused has been delivered before the span's totals are read. Lives
  * under `org.apache.spark` because the bus is package-private. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
