package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy),
  * logging at WARN like every main's session ([[LocalSession]]): at
  * INFO the harness specs' thousands of micro-queries write tens of
  * megabytes of scheduler and cache lines. */
trait SparkSpec extends AnyFunSuite {
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

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `f` launches on this thread. */
  def jobsOf[T](f: => T): (T, Int) = {
    val (out, jobs, _) = jobsAndTasksOf(f)
    (out, jobs)
  }

  /** Spark jobs `f` launches on this thread, and their tasks. The
    * listener bus delivers in order, so once a later marker job has
    * arrived every job of `f` has been counted. */
  def jobsAndTasksOf[T](f: => T): (T, Int, Int) = {
    val group = s"spec-jobs-${System.nanoTime()}"
    val marker = group + "-marker"
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            tasks.addAndGet(e.stageInfos.map(_.numTasks).sum); ()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Cancel the test unless `path` is a regular file — for tests that
    * replay the reference's corpus or read its `.schema`, which are
    * not shipped; they run wherever the file exists. */
  def assumeFile(path: String): Unit =
    assume(graft.pql.OnTimeCorpus.present(path), s"needs $path")
}
