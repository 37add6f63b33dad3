package org.apache.spark.graftx

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. The listener bus is private to
  * Spark, and the count is read only after every event posted during the
  * block has been delivered. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graftx.jobcount") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty("graftx.jobcount")
    sc.setLocalProperty("graftx.jobcount", tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graftx.jobcount", prev)
      sc.removeSparkListener(listener)
    }
  }
}
