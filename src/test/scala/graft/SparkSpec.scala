package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with session confs temporarily overridden, restoring
    * the previous values after (the session is shared across specs).
    */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Deterministic drain of the async SparkListener bus (a fixed sleep
    * flakes on a loaded host: job-start events from EARLIER actions can
    * arrive after a counter is zeroed); waitUntilEmpty is
    * package-private, hence the reflective call.
    */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
      .invoke(bus, java.lang.Long.valueOf(30000L))
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus()
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The engine every main runs, at a fixed 4 cores. */
  lazy val session: SparkSession = Session.local(cores = 4)
}
