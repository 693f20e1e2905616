package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The value of `body` and the number of Spark jobs it started. The
    * listener bus is drained before and after, so no other job counts. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.Listeners.waitUntilEmpty(sc, 60000)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.Listeners.waitUntilEmpty(sc, 60000)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
