package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.RealtimeIngest

/** Open-loop `events` generator plus the ingest that publishes it.
  *
  * One seeded file of `rowsPerFile` JSON rows is written to a staging
  * directory and atomically moved into the inbox at seeded intervals drawn
  * uniformly from [intervalMs / 2, 3 * intervalMs / 2), so the moves fall
  * at every phase of the ingest's trigger period; each row is
  * stamped with its generation time. [[graft.streaming.RealtimeIngest]]
  * publishes the inbox into `tableDir/events.parquet` under a `triggerMs`
  * processing-time trigger. Row `r` of file `f` has `event_id = f * rowsPerFile + r`, so every
  * answer over a committed prefix of files has a closed form.
  */
final class EventStream(spark: SparkSession, dir: String, tableDir: String, seed: Long,
    rowsPerFile: Int, intervalMs: Long, triggerMs: Long) {
  import EventStream._

  val segmentDir = s"$tableDir/events.parquet"
  private val inbox = s"$dir/inbox"
  private val staging = s"$dir/staging"
  private val checkpoint = s"$dir/checkpoint"
  Seq(inbox, staging).foreach(d => Files.createDirectories(Paths.get(d)))

  private val moveMs = ArrayBuffer.empty[Long]
  private val typeSums = ArrayBuffer.empty[Array[Double]]
  private val typeCounts = ArrayBuffer.empty[Array[Int]]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val generator = Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
    val t = new Thread(r, "graftbench-event-generator"); t.setDaemon(true); t
  }
  @volatile private var query: StreamingQuery = _
  @volatile private var generatorError: Throwable = _
  @volatile private var stopping = false
  private val gaps = new java.util.Random(mix(seed ^ 0x5EEDL))
  /** Due time of the next file; touched on the generator thread only. */
  private var nextAtMs = 0L

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val q = query
      if (q != null && e.progress.id == q.id) progress.add(e.progress)
    }
  }

  private def writeFile(): Unit = try {
    val f = moved
    val now = System.currentTimeMillis()
    val sums = new Array[Double](EventTypes)
    val counts = new Array[Int](EventTypes)
    val sb = new StringBuilder(rowsPerFile * 128)
    var r = 0
    while (r < rowsPerFile) {
      val id = f.toLong * rowsPerFile + r
      val h = mix(seed ^ mix(id))
      val t = java.lang.Math.floorMod(h >>> 20, EventTypes.toLong).toInt
      val v = java.lang.Math.floorMod(h >>> 32, 100000L) / 100.0
      sums(t) += v
      counts(t) += 1
      val ts = TsFormat.format(Instant.ofEpochMilli(now).plusNanos(r * 1000L))
      sb.append(s"""{"event_id":$id,"ts":"$ts","user_id":${java.lang.Math.floorMod(h, 5000L)},""")
        .append(s""""event_type":"type$t","value":$v,"props":"p${java.lang.Math.floorMod(h >>> 8, 10L)}"}""")
        .append('\n')
      r += 1
    }
    val name = f"f$f%06d.json"
    val tmp = Paths.get(staging, name)
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(inbox, name), StandardCopyOption.ATOMIC_MOVE)
    val at = System.currentTimeMillis()
    synchronized { moveMs += at; typeSums += sums; typeCounts += counts }
    ()
  } catch { case e: Throwable => generatorError = e; throw e }

  /** Write one file, then schedule the next at its seeded due time
    * (absolute, so write time does not accumulate as drift). */
  private def tick(): Unit = {
    writeFile()
    if (!stopping) {
      nextAtMs += intervalMs / 2 + gaps.nextInt(intervalMs.toInt)
      generator.schedule((() => tick()): Runnable,
        math.max(0L, nextAtMs - System.currentTimeMillis()), TimeUnit.MILLISECONDS)
      ()
    }
  }

  /** Files moved into the inbox so far. */
  def moved: Int = synchronized(moveMs.length)
  def rowsMoved: Long = moved.toLong * rowsPerFile

  @volatile private var startMs = 0L
  /** Seconds since the generator started. */
  def ageSeconds: Double = (System.currentTimeMillis() - startMs) / 1e3

  /** Start the generator (first file now) and the ingest query. */
  def start(): Unit = {
    startMs = System.currentTimeMillis()
    nextAtMs = startMs
    generator.execute(() => tick())
    spark.streams.addListener(listener)
    val source = spark.readStream.schema(Schema)
      .option("timestampFormat", TsPattern).json(inbox)
    query = RealtimeIngest.start(source, segmentDir, checkpoint,
      Trigger.ProcessingTime(triggerMs, TimeUnit.MILLISECONDS))
  }

  def stopGenerator(): Unit = {
    stopping = true
    generator.shutdown()
    generator.awaitTermination(30, TimeUnit.SECONDS)
    if (generatorError != null) throw new IllegalStateException("event generator failed", generatorError)
  }

  private def failIfStopped(): Unit = {
    val q = query
    if (q != null && !q.isActive)
      throw new IllegalStateException("ingest query stopped", q.exception.orNull)
  }

  def committedRows: Long = progress.asScala.map(_.numInputRows).sum

  /** Block until at least `rows` rows are committed; false on timeout. */
  def awaitCommitted(rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedRows < rows && System.currentTimeMillis() < deadline) {
      failIfStopped(); Thread.sleep(10)
    }
    committedRows >= rows
  }

  def stop(): Unit = {
    stopping = true
    generator.shutdownNow()
    generator.awaitTermination(30, TimeUnit.SECONDS)
    val q = query
    if (q != null) { q.stop(); q.awaitTermination(30000) }
    spark.streams.removeListener(listener)
  }

  /** Judge an `events` answer against the files moved so far; a committed
    * snapshot is always a prefix of them (files move in order). `lastCount` is the client's
    * previous `COUNT(*)`. Returns the new count or the error. */
  def verify(shape: String, pql: String, a: Answer, lastCount: Long): Either[String, Long] = {
    val (movedFiles, sums, counts) =
      synchronized((moveMs.length, typeSums.toVector, typeCounts.toVector))
    shape match {
      case "e1_count" =>
        val c = a.rows.headOption.flatMap(_.headOption).flatMap(_.toLongOption).getOrElse(-1L)
        if (c < 0 || c % rowsPerFile != 0 || c > movedFiles.toLong * rowsPerFile)
          Left(s"COUNT(*) $c is not a committed prefix of $movedFiles files")
        else if (c < lastCount) Left(s"COUNT(*) went backwards: $lastCount -> $c")
        else Right(c)
      case "e2_sum_by_type" =>
        val got = a.rows.map(r => r(0) -> r(1).toDoubleOption.getOrElse(Double.NaN)).toMap
        val pSum = new Array[Double](EventTypes)
        val pCnt = new Array[Int](EventTypes)
        val matches = (1 to movedFiles).exists { k =>
          (0 until EventTypes).foreach { t => pSum(t) += sums(k - 1)(t); pCnt(t) += counts(k - 1)(t) }
          val present = (0 until EventTypes).filter(pCnt(_) > 0)
          present.size == got.size && present.forall(t =>
            got.get(s"type$t").exists(v => Requests.close(v, pSum(t))))
        }
        if (matches) Right(lastCount)
        else Left(s"per-type sums match no committed prefix of $movedFiles files: ${a.rows.take(3)}")
      case "e3_latest" =>
        val ids = a.rows.map(_.headOption.flatMap(_.toLongOption).getOrElse(-1L))
        val top = ids.headOption.getOrElse(-1L) + 1
        val k = top / rowsPerFile
        val ok = ids.length == 10 && top % rowsPerFile == 0 && k >= 1 && k <= movedFiles &&
          ids == (1 to 10).map(top - _)
        if (ok) Right(lastCount)
        else Left(s"latest rows are not the tail of a committed prefix: ${ids.take(10)}")
      case "e4_type_count" =>
        val t = "'type(\\d+)'".r.findFirstMatchIn(pql).map(_.group(1).toInt).getOrElse(-1)
        val c = a.rows.headOption.flatMap(_.headOption).flatMap(_.toLongOption).getOrElse(-1L)
        if (t >= 0 && t < EventTypes && counts.scanLeft(0L)(_ + _(t)).drop(1).contains(c))
          Right(lastCount)
        else Left(s"type$t count $c matches no committed prefix of $movedFiles files")
      case other => Left(s"unknown events shape $other")
    }
  }

  /** Micro-batch that read each inbox file, from the file source's log. */
  private def fileBatches(): Map[Int, Long] = {
    val mapper = new ObjectMapper()
    val logDir = new java.io.File(s"$checkpoint/sources/0")
    Option(logDir.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .filter(_.startsWith("{")).map(mapper.readTree).map { n =>
        val path = n.get("path").asText
        val name = path.substring(path.lastIndexOf('/') + 1)
        name.stripPrefix("f").stripSuffix(".json").toInt -> n.get("batchId").asLong
      }.toMap
  }

  /** Micro-batches with rows whose trigger ended inside [fromMs, toMs]. */
  def batchesIn(fromMs: Long, toMs: Long): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => p.numInputRows > 0 && {
      val end = commitMs(p); end >= fromMs && end <= toMs
    })

  /** Freshness of every file moved inside [fromMs, toMs]: from its move
    * into the inbox to the end of the micro-batch that committed it. Also
    * returns how many of those files were still uncommitted at `toMs`. */
  def freshness(fromMs: Long, toMs: Long): (Seq[Double], Int) = {
    val batches = fileBatches()
    val commits = progress.asScala.map(p => p.batchId -> commitMs(p)).toMap
    val moves = synchronized(moveMs.toVector).zipWithIndex
      .filter { case (m, _) => m >= fromMs && m <= toMs }
    val samples = moves.flatMap { case (m, f) =>
      batches.get(f).flatMap(commits.get).map(c => (c - m).toDouble) }
    val backlog = moves.count { case (_, f) =>
      batches.get(f).flatMap(commits.get).forall(_ > toMs) }
    (samples, backlog)
  }

  /** After the final drain: every generated row committed exactly once. */
  def exactlyOnce(): Option[String] = {
    val df = spark.read.parquet(segmentDir)
    val n = df.count()
    val distinct = df.select(col("event_id")).distinct().count()
    val want = rowsMoved
    if (n == want && distinct == want) None
    else Some(s"exactly-once violated: count=$n distinct=$distinct generated=$want")
  }
}

object EventStream {
  val EventTypes = 8
  val TsPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFormat = DateTimeFormatter.ofPattern(TsPattern).withZone(ZoneOffset.UTC)

  /** The test data's `events` schema. */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** End of a micro-batch on the stream's own clock. */
  def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  /** splitmix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
