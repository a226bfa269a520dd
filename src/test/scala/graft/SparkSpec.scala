package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM-wide session — Spark's
  * getOrCreate caches it, so every suite reuses the first).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it started, tagged by job
    * description; the listener bus is asynchronous and FIFO, so once a
    * later marker job is seen every job of `body` has been seen too. */
  def jobsRunBy[A](tag: String)(body: => A): (A, Int) = {
    val (out, jobs, _) = jobsAndRecordsRunBy(tag)(body)
    (out, jobs)
  }

  /** jobsRunBy plus the input records the tasks of those jobs read (the
    * task-end `recordsRead` input metric, summed over their stages). */
  def jobsAndRecordsRunBy[A](tag: String)(body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = String.valueOf(j.properties.getProperty("spark.job.description"))
        if (desc == tag) j.stageIds.foreach(stages.add)
        seen.add(desc)
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      val out = try body finally sc.setJobDescription(null)
      sc.setJobDescription(tag + "-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(tag + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(tag + "-marker"), "listener never saw the marker job")
      (out, seen.asScala.count(_ == tag), records.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
