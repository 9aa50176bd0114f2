package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session
  * (getOrCreate) so `sbt test` doesn't pay Spark startup per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // CosTopK-family aggregations hold 10^3-10^5 groups per task; the
    // 128-row default falls back to sort-based aggregation (and its
    // spill cascade) on every such query - see CosTopK scaladoc
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-sql-wh").toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started by `f` on this thread, counted by a SparkListener. A
    * sentinel job in a second group flushes the asynchronous listener
    * bus, so every job `f` started has been seen when it is counted. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val seen = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)                  => seen.incrementAndGet()
          case Some(g) if g == s"$group-end" => flushed.countDown()
          case _                              => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "jobs during")
      val r = f
      sc.setJobGroup(s"$group-end", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      (r, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}
