package graft.core

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object SparkJobs {
  private val Tag = "graft.jobs.tag"

  /** `body`'s result and the number of jobs it started. Jobs are told
    * apart by a local property, which threads started inside `body` (a
    * streaming query's) inherit; a job another thread runs meanwhile is
    * not counted. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val token = UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == token) jobs.incrementAndGet()
    }
    val outer = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, token)
    try {
      val a = body
      GraftListenerBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }
}
