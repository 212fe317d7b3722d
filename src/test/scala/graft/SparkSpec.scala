package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; ScalaTest
  * suites run sequentially within the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {} // keep the session for other suites

  /** `body`'s result and the Spark jobs started on this thread while it
    * ran (a thread-local tag on each job, so jobs of other threads, such
    * as background index builds, are not counted).
    */
  def countJobs[T](body: => T): (T, Long) = {
    val (key, tag) = ("graft.spec.jobProbe", java.util.UUID.randomUUID.toString)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(key, tag)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      (r, jobs.get)
    } finally {
      spark.sparkContext.setLocalProperty(key, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
