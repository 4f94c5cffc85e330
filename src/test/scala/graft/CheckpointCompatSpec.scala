package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.RealtimeIngest

/** Checkpoints change hands between Spark's default checkpoint manager
  * and the one [[RealtimeIngest]] installs, in both directions, with
  * every row committed exactly once. Each stream runs under the default
  * manager, stops mid-stream with its last commit lost (so the resumed
  * run re-executes that batch), resumes through `RealtimeIngest`, stops
  * again and drains under the default manager. The default runs write
  * `ts` as INT96 and `RealtimeIngest` as INT64 micros, so each table
  * mixes both, and reads back every timestamp. */
class CheckpointCompatSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val TsKey = "spark.sql.parquet.outputTimestampType"
  private val Tick = Trigger.ProcessingTime(50, TimeUnit.MILLISECONDS)

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** `RealtimeIngest.start`'s query under the session's own manager. */
  private def plainStart(df: DataFrame, seg: String, ckp: String, trigger: Trigger): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", seg)
      .option("checkpointLocation", ckp)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Hadoop checksum sidecars (`.<name>.crc`) under `dir`. */
  private def sidecars(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSet

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  /** Drop the last commit-log entry, as a crash between a batch's sink
    * write and its commit would. */
  private def loseLastCommit(ckp: String): Unit = {
    val commits = Paths.get(ckp, "commits")
    val last = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
  }

  /** Runs `batches` through `q`, then stops it while it is still active. */
  private def feed[T](q: StreamingQuery, source: MemoryStream[T], batches: Seq[T]*): Unit = {
    batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    assert(q.isActive)
    q.stop()
  }

  /** The committed (id, ts) rows, sorted by id. */
  private def rows(session: SparkSession, seg: String): Seq[(Long, Timestamp)] =
    RealtimeIngest.readSegments(session, seg).select("id", "ts").as[(Long, Timestamp)]
      .collect().toSeq.sortBy(_._1)

  /** The three runs over one checkpoint: `default` under Spark's own
    * manager, `graft` through RealtimeIngest. */
  private def handOver(session: SparkSession, ckp: String)(
      default: Trigger => StreamingQuery, graft: Trigger => StreamingQuery,
      phase1: StreamingQuery => Unit, phase2: StreamingQuery => Unit,
      phase3: () => Unit): Unit = {
    assert(session.conf.getOption(Key).isEmpty && !session.conf.getAll.contains(TsKey))
    phase1(default(Tick))
    val written = sidecars(ckp)
    assert(written.nonEmpty, "Spark's default manager wrote no checksum sidecars")
    loseLastCommit(ckp)

    phase2(graft(Tick))
    assert(session.conf.getOption(Key).nonEmpty)
    assert(session.conf.get(TsKey) === "TIMESTAMP_MICROS")
    assert(sidecars(ckp).subsetOf(written), "RealtimeIngest's manager wrote checksum sidecars")

    session.conf.unset(Key)
    session.conf.unset(TsKey)
    phase3()
    default(Trigger.AvailableNow()).awaitTermination()
  }

  test("start: default-written file sink and offsets resume through RealtimeIngest, and back") {
    val session = spark.newSession()
    val seg = tmp("graft-compat-seg")
    val ckp = tmp("graft-compat-ckp")
    val source = MemoryStream[(Long, Timestamp)](session)
    val df = source.toDF.toDF("id", "ts")
    def batch(ids: Range) = ids.map(i => (i.toLong, ts(i)))
    handOver(session, ckp)(
      default = t => plainStart(df, seg, ckp, t),
      graft = t => RealtimeIngest.start(df, seg, ckp, t),
      phase1 = q => feed(q, source, batch(1 to 10), batch(11 to 20)),
      phase2 = q => feed(q, source, batch(21 to 30), batch(31 to 40)),
      phase3 = () => source.addData(batch(41 to 50): _*))
    assert(physicalTypes(seg, "ts") === Set("INT96", "INT64"))
    assert(rows(session, seg) === batch(1 to 50), "a row was lost, committed twice or misread")
  }

  test("startWithDedup: default-written state-store deltas resume through RealtimeIngest, and back") {
    val session = spark.newSession()
    val seg = tmp("graft-compat-dedup-seg")
    val ckp = tmp("graft-compat-dedup-ckp")
    def at(min: Int) = ts(min * 60)
    val source = MemoryStream[(Long, String, Timestamp)](session)
    val df = source.toDF.toDF("id", "key", "ts")
    val deduped = df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("key")
    handOver(session, ckp)(
      default = t => plainStart(deduped, seg, ckp, t),
      graft = t => RealtimeIngest.startWithDedup(df, Seq("key"), "ts", "1 hour", seg, ckp, t),
      phase1 = q => feed(q, source,
        Seq((1L, "a", at(1)), (2L, "b", at(2))),
        Seq((3L, "b", at(3)), (4L, "c", at(4)))),
      // 5 repeats a key only the default manager's state holds
      phase2 = q => feed(q, source, Seq((5L, "a", at(5)), (6L, "d", at(6)))),
      // 7 repeats a key only RealtimeIngest's state holds
      phase3 = () => source.addData((7L, "d", at(7)), (8L, "e", at(8))))
    // RealtimeIngest's run wrote state-store deltas (with overwrite, and
    // no sidecar) that the last run read back to drop key d
    val deltas = Files.walk(Paths.get(ckp, "state")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.exists(d => !Files.exists(d.resolveSibling(s".${d.getFileName}.crc"))))
    assert(physicalTypes(seg, "ts") === Set("INT96", "INT64"))
    assert(rows(session, seg) === Seq(1, 2, 4, 6, 8).map(i => (i.toLong, at(i))),
      "a row was lost, repeated, not deduplicated or misread")
  }
}
