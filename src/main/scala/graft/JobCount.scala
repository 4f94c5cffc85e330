package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts, counted by a listener and fenced by a
  * marker job: the listener bus delivers job starts in order, so once
  * the marker's start has arrived, every job started before it has been
  * seen. No polling, no sleep. */
object JobCount {

  /** One started job: its job group ("" for none) and its task count. */
  final case class Job(group: String, tasks: Int)

  /** A block's value and the jobs started, from any thread, while it
    * ran. The block runs under job group `group` on the calling thread,
    * so [[own]] are the jobs of that thread and of the threads that
    * inherit its job group (broadcasts, subqueries). */
  final case class Counted[T](value: T, jobs: Seq[Job], group: String) {
    def own: Seq[Job] = jobs.filter(_.group == group)
  }

  /** Run `body` and count its jobs; the calling thread's job group is
    * cleared afterwards. */
  def apply[T](spark: SparkSession)(body: => T): Counted[T] = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new ConcurrentLinkedQueue[Job]
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`marker`) => markerSeen.countDown()
          case g => jobs.add(Job(g.getOrElse(""), e.stageInfos.map(_.numTasks).sum)); ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(markerSeen.await(30, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      Counted(out, jobs.asScala.toSeq, group)
    } finally sc.removeSparkListener(listener)
  }
}
