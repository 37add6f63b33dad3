package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** The listener bus is private to Spark; the traced run must read its
  * job and stage events only after every one has been delivered. */
object ListenerDrain {
  def drain(spark: SparkSession, timeoutMillis: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
}
