package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Spark jobs started while a block ran: `n` jobs, and the details
  * (call-site stack) of every stage they submitted. */
final case class Jobs(n: Int, stageDetails: Seq[String])

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `f` and counts the Spark jobs it started. The listener bus is
    * drained before the count is read, so every job `f` ran is in it. */
  def countJobs[T](f: => T): (T, Jobs) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val details = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet()
        js.stageInfos.foreach(si => details.add(si.details))
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, Jobs(n.get, details.toArray(Array.empty[String]).toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
