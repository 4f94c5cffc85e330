package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{HybridTable, RealtimeIngest}

/** Consume→seal→commit lifecycle over MemoryStream (the test stand-in
  * for Kafka): rows stream in, micro-batches commit parquet segments
  * exactly once across restarts from the same checkpoint, committed
  * segments are queryable, and the hybrid view stitches them with the
  * batch table behind the time boundary. */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val TsKey = "spark.sql.parquet.outputTimestampType"
  private def at(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("micro-batch commits are exactly-once across restarts (segment lifecycle)") {
    val seg = tmp("graft-seg")
    val ckp = tmp("graft-ckp")
    // the first run writes ts as INT96, the restart as INT64 micros
    val session = spark.newSession()
    session.conf.set(TsKey, "INT96")
    val source = MemoryStream[(Long, String, Double, Timestamp)](session)
    def columns = source.toDF.toDF("event_id", "event_type", "value", "ts")

    source.addData((1L, "click", 1.0, at(1)), (2L, "view", 2.0, at(2)))
    val q1 = RealtimeIngest.start(columns, seg, ckp)
    q1.awaitTermination()

    // restart from the same checkpoint with more data: only the new
    // offsets are consumed — the committed segment is not re-published
    session.conf.unset(TsKey)
    source.addData((3L, "click", 3.0, at(3)))
    val q2 = RealtimeIngest.start(columns, seg, ckp)
    q2.awaitTermination()

    assert(physicalTypes(seg, "ts") === Set("INT96", "INT64"))
    val out = RealtimeIngest.readSegments(spark, seg)
    assert(out.count() === 3)
    assert(out.select("event_id", "ts").as[(Long, Timestamp)].collect().sortBy(_._1).toSeq ===
      Seq(1, 2, 3).map(i => (i.toLong, at(i))))
  }

  test("ingest rollup merges identical dimensions within a segment") {
    val seg = tmp("graft-roll-seg")
    val ckp = tmp("graft-roll-ckp")
    val source = MemoryStream[(String, Double)](spark)
    source.addData(("click", 1.0), ("click", 2.0), ("view", 5.0))
    val q = RealtimeIngest.startWithRollup(
      source.toDF.toDF("event_type", "value"),
      dims = Seq("event_type"), metrics = Seq("value"), seg, ckp)
    q.awaitTermination()

    val seg0 = RealtimeIngest.readSegments(spark, seg)
    // within the segment the two click rows merged (aggregateMetrics)
    assert(seg0.count() === 2)
    val clicks = seg0.filter($"event_type" === "click")
      .select($"value", $"_rolled_rows").as[(Double, Long)].head()
    assert(clicks === ((3.0, 2L)))

    // a later segment re-aggregates at query time across segments
    source.addData(("click", 4.0))
    RealtimeIngest.startWithRollup(
      source.toDF.toDF("event_type", "value"),
      dims = Seq("event_type"), metrics = Seq("value"), seg, ckp)
      .awaitTermination()
    val total = RealtimeIngest.readSegments(spark, seg)
      .groupBy($"event_type").agg(sum($"value").as("v"))
      .filter($"event_type" === "click").select($"v").as[Double].head()
    assert(total === 7.0)
  }

  test("hybrid view = offline ≤ boundary ∪ realtime > boundary, exactly once") {
    val seg = tmp("graft-hyb-seg")
    val ckp = tmp("graft-hyb-ckp")
    // offline batch covers t ∈ [0, 50]; stream re-delivers overlapping
    // rows t ∈ [40, 60] (backfill overlap) — each row must count once
    val offline = (0L to 50L).map(t => (t, 1)).toDF("t", "v")
    val source = MemoryStream[(Long, Int)](spark)
    source.addData((40L to 60L).map(t => (t, 1)): _*)
    RealtimeIngest.start(source.toDF.toDF("t", "v"), seg, ckp).awaitTermination()

    val realtime = RealtimeIngest.readSegments(spark, seg)
    val hybrid = HybridTable.view(offline, realtime, "t")
    assert(hybrid.count() === 61)
    assert(hybrid.agg(sum($"v")).as[Long].head() === 61L)
    // empty offline side degrades to realtime-only
    assert(HybridTable.view(offline.filter($"t" < 0), realtime, "t").count() === 21)
  }

  test("streaming exact dedup: watermark-bounded state, first-wins across batches") {
    val seg = tmp("graft-dedup-seg")
    val ckp = tmp("graft-dedup-ckp")
    def ts(min: Int) = at(min * 60)
    // the first run writes ts as INT96, the restart as INT64 micros
    val session = spark.newSession()
    session.conf.set(TsKey, "INT96")
    val source = MemoryStream[(Long, String, Timestamp)](session)

    // batch 1: doc 2 arrives twice (same text → same fingerprint)
    source.addData((1L, "alpha doc", ts(1)), (2L, "beta doc", ts(2)),
      (3L, "beta doc", ts(3)))
    val dedup1 = RealtimeIngest.startWithDedup(
      source.toDF.toDF("id", "text", "ts")
        .withColumn("fp", graft.operators.TextAnalysis.fingerprintMd5($"text")),
      keyCols = Seq("fp"), timeCol = "ts", watermarkDelay = "1 hour", seg, ckp)
    dedup1.awaitTermination()
    assert(RealtimeIngest.readSegments(spark, seg)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))

    // restart from the checkpoint: a duplicate of doc 2 within the
    // watermark window is suppressed by the CHECKPOINTED state; the
    // genuinely new doc passes
    session.conf.unset(TsKey)
    source.addData((4L, "beta doc", ts(10)), (5L, "gamma doc", ts(11)))
    RealtimeIngest.startWithDedup(
      source.toDF.toDF("id", "text", "ts")
        .withColumn("fp", graft.operators.TextAnalysis.fingerprintMd5($"text")),
      keyCols = Seq("fp"), timeCol = "ts", watermarkDelay = "1 hour", seg, ckp)
      .awaitTermination()
    assert(physicalTypes(seg, "ts") === Set("INT96", "INT64"))
    assert(RealtimeIngest.readSegments(spark, seg).select("id", "ts").as[(Long, Timestamp)]
      .collect().sortBy(_._1).toSeq === Seq(1L -> ts(1), 2L -> ts(2), 5L -> ts(11)))
  }

  test("streaming windowed aggregation with watermark (event-time rollup)") {
    val seg = tmp("graft-win-seg")
    val ckp = tmp("graft-win-ckp")
    val source = MemoryStream[(java.sql.Timestamp, Double)](spark)
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    source.addData((ts(1), 1.0), (ts(2), 2.0), (ts(16), 4.0))
    val windowed = source.toDF.toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes").as("w"))
      .agg(sum($"value").as("total"))
      .select($"w.start".as("w_start"), $"total")
    val q = windowed.writeStream
      .format("memory").queryName("win_agg")
      .outputMode("complete")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT * FROM win_agg ORDER BY w_start")
      .select($"total").as[Double].collect().toSeq
    assert(rows === Seq(3.0, 4.0))
  }
}
