package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Spans of one request share `req`; the
  * request's root span has `parent = -1`, its children point at it. */
final case class Span(id: Int, parent: Int, req: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"parent":$parent,"req":$req,"name":"$name","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Work Spark did for one (request, phase), as the listener saw it. */
final class Counts {
  var jobs, tasks = 0L
  var cpuNs, recordsRead, bytesRead, shuffleBytes = 0L
  def json: String =
    s"""{"jobs":$jobs,"tasks":$tasks,"cpu_ns":$cpuNs,"records_read":$recordsRead,""" +
      s""""bytes_read":$bytesRead,"shuffle_bytes":$shuffleBytes}"""
}

/** Attributes jobs and tasks to the request and phase that launched them,
  * via two local properties the replaying thread sets. Spark delivers
  * listener events on one bus thread, so the maps are only written there. */
final class JobCounter extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Int, (Long, String)]
  val counts = new ConcurrentHashMap[(Long, String), Counts]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    val props = Option(e.properties)
    for (req <- props.flatMap(p => Option(p.getProperty(JobCounter.ReqKey)));
         phase <- props.flatMap(p => Option(p.getProperty(JobCounter.PhaseKey)))) {
      val key = (req.toLong, phase)
      counts.computeIfAbsent(key, _ => new Counts).jobs += 1
      e.stageIds.foreach(s => stageOwner.put(s, key))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    val key = stageOwner.get(e.stageId)
    val m = e.taskMetrics
    if (key != null && m != null) {
      val c = counts.computeIfAbsent(key, _ => new Counts)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Wait until the bus has delivered everything (no event for 300 ms). */
  def settle(): Unit = {
    var last = -1L
    val deadline = System.currentTimeMillis() + 10000
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events; Thread.sleep(300)
    }
  }

  def of(req: Long, phase: String): Counts =
    Option(counts.get((req, phase))).getOrElse(new Counts)
}

object JobCounter {
  val ReqKey = "graftbench.req"
  val PhaseKey = "graftbench.phase"
}

/** Spans of the traced replay, kept in memory and written at exit. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger

  def nextId(): Int = ids.getAndIncrement()
  def add(s: Span): Unit = { spans.add(s); () }
  def all: Seq[Span] = spans.asScala.toSeq

  /** Time `f` as a child span of `parent`. */
  def span[T](req: Long, parent: Int, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(Span(nextId(), parent, req, name, t0, System.nanoTime()))
  }

  def write(path: java.nio.file.Path, counter: JobCounter, header: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(header); w.newLine()
      all.sortBy(_.startNs).foreach { s => w.write(s.json); w.newLine() }
      counter.counts.asScala.toSeq.sortBy(_._1).foreach { case ((req, phase), c) =>
        w.write(s"""{"req":$req,"phase":"$phase","counts":${c.json}}"""); w.newLine()
      }
    } finally w.close()
  }
}
