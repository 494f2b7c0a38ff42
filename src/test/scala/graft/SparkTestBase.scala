package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for specs (one JVM-wide session, cheap). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Spark jobs `body` runs on this thread. Listener events arrive
    * asynchronously but in order, so a marker job seen after `body`
    * means every job of `body` has been counted. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
