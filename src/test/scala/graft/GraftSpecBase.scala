package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Engine.configure(
      SparkSession.builder().appName("graft-test").master("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSpecBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** jobs started from this thread while `body` runs */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      ListenerBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
