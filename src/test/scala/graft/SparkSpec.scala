package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, counted by a listener. */
  def jobsFor(body: => Unit): Int = {
    val sc = spark.sparkContext
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counted.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // listener bus is async: poll until the count is stable
      var last = -1
      var spins = 0
      while (counted.get() != last && spins < 40) {
        last = counted.get(); Thread.sleep(50); spins += 1
      }
    } finally sc.removeSparkListener(listener)
    counted.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
