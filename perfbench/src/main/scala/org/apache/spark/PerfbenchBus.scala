package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Listener-bus access the public API does not offer: the traced run
  * must see every event of a pass before it reads its counters. */
object PerfbenchBus {
  def waitUntilEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
