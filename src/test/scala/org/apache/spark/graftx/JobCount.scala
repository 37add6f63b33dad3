package org.apache.spark.graftx

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. The listener bus is private to
  * Spark, and the count is read only after every event posted during the
  * block has been delivered. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (out, descs) = labels(spark)(body)
    (out, descs.size)
  }

  /** The `spark.job.description` of every job the block runs, in start
    * order (null for an unlabelled job). */
  def labels[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("graftx.jobcount") == tag)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty("graftx.jobcount")
    sc.setLocalProperty("graftx.jobcount", tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.map(_.orNull))
    } finally {
      sc.setLocalProperty("graftx.jobcount", prev)
      sc.removeSparkListener(listener)
    }
  }
}
