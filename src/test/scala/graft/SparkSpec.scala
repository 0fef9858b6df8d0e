package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession =
    graft.core.GraftSession.local("graft-test", cores = 8,
      extraConf = Map("spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs and SQL queries started while running `body`. The
    * listener bus is asynchronous and FIFO, so a sentinel job run
    * afterwards marks the point by which every earlier start has been
    * delivered.
    */
  def sparkWork(body: => Unit): (Int, Int) = {
    val sentinel = "spark-spec-sentinel"
    val jobs, queries = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == sentinel)) seen.countDown()
        else { jobs.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => queries.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS))
      (jobs.get, queries.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark jobs started while running `body`. */
  def jobsDuring(body: => Unit): Int = sparkWork(body)._1
}
