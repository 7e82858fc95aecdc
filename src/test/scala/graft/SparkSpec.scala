package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with every ScaleGates gate closed
    * (`graft.forceDistributed=true`), so gated operators take their
    * distributed branch; the property is removed again afterwards. */
  def forcedDistributed[T](body: => T): T = {
    sys.props("graft.forceDistributed") = "true"
    try body finally sys.props -= "graft.forceDistributed"
  }

  /** `body`'s result and the number of Spark jobs it started. The listener
    * bus is drained before and after, so jobs of earlier work are not
    * counted and every job of `body` is. */
  def jobsRun[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      TestBus.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
