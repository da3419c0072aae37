package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local session per JVM (getOrCreate —
  * suites run in the forked test JVM sequentially), sf0.001 fixtures. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Fixtures.configure(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** Jobs started while `f` runs. */
  def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `body` with each (key, value) set on the test session, then
    * restore each key's previous value, or unset a key that had none. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Plan with AQE off so BatchScanExec is reachable in the tree (the
    * PlanShapeSpec discipline) — the ONE home of the AQE-toggle
    * helper every DSv2 plan-pin spec needs. */
  def batchScanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.datasources.v2.BatchScanExec = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      .getOrElse(fail("no BatchScanExec in plan"))
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
