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
  * again and drains under the default manager. */
class CheckpointCompatSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
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

  private def ids(session: SparkSession, seg: String): Seq[Long] =
    RealtimeIngest.readSegments(session, seg).select("id").as[Long].collect().toSeq

  /** The three runs over one checkpoint: `default` under Spark's own
    * manager, `graft` through RealtimeIngest. */
  private def handOver(session: SparkSession, ckp: String)(
      default: Trigger => StreamingQuery, graft: Trigger => StreamingQuery,
      phase1: StreamingQuery => Unit, phase2: StreamingQuery => Unit,
      phase3: () => Unit): Unit = {
    assert(session.conf.getOption(Key).isEmpty)
    phase1(default(Tick))
    val written = sidecars(ckp)
    assert(written.nonEmpty, "Spark's default manager wrote no checksum sidecars")
    loseLastCommit(ckp)

    phase2(graft(Tick))
    assert(session.conf.getOption(Key).nonEmpty)
    assert(sidecars(ckp).subsetOf(written), "RealtimeIngest's manager wrote checksum sidecars")

    session.conf.unset(Key)
    phase3()
    default(Trigger.AvailableNow()).awaitTermination()
  }

  test("start: default-written file sink and offsets resume through RealtimeIngest, and back") {
    val session = spark.newSession()
    val seg = tmp("graft-compat-seg")
    val ckp = tmp("graft-compat-ckp")
    val source = MemoryStream[Long](session)
    val df = source.toDF.toDF("id")
    handOver(session, ckp)(
      default = t => plainStart(df, seg, ckp, t),
      graft = t => RealtimeIngest.start(df, seg, ckp, t),
      phase1 = q => feed(q, source, 1L to 10L, 11L to 20L),
      phase2 = q => feed(q, source, 21L to 30L, 31L to 40L),
      phase3 = () => source.addData((41L to 50L): _*))
    val got = ids(session, seg)
    assert(got.sorted === (1L to 50L), "a row was lost or committed twice")
  }

  test("startWithDedup: default-written state-store deltas resume through RealtimeIngest, and back") {
    val session = spark.newSession()
    val seg = tmp("graft-compat-dedup-seg")
    val ckp = tmp("graft-compat-dedup-ckp")
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val source = MemoryStream[(Long, String, Timestamp)](session)
    val df = source.toDF.toDF("id", "key", "ts")
    val deduped = df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("key")
    handOver(session, ckp)(
      default = t => plainStart(deduped, seg, ckp, t),
      graft = t => RealtimeIngest.startWithDedup(df, Seq("key"), "ts", "1 hour", seg, ckp, t),
      phase1 = q => feed(q, source,
        Seq((1L, "a", ts(1)), (2L, "b", ts(2))),
        Seq((3L, "b", ts(3)), (4L, "c", ts(4)))),
      // 5 repeats a key only the default manager's state holds
      phase2 = q => feed(q, source, Seq((5L, "a", ts(5)), (6L, "d", ts(6)))),
      // 7 repeats a key only RealtimeIngest's state holds
      phase3 = () => source.addData((7L, "d", ts(7)), (8L, "e", ts(8))))
    // RealtimeIngest's run wrote state-store deltas (with overwrite, and
    // no sidecar) that the last run read back to drop key d
    val deltas = Files.walk(Paths.get(ckp, "state")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.exists(d => !Files.exists(d.resolveSibling(s".${d.getFileName}.crc"))))
    val got = ids(session, seg)
    assert(got.sorted === Seq(1L, 2L, 4L, 6L, 8L), "a row was lost, repeated or not deduplicated")
  }
}
