package graft

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (UTC, small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def ts(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso + (if (iso.length == 10) "T00:00:00Z" else "Z")))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it started, counted
    * by a SparkListener; the bus is drained on both sides, so no job of
    * an earlier or later action is counted. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
