package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  def drain(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
