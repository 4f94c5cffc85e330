package graft

import org.apache.spark.sql.functions._
import graft.sources.Minion

/** Minion segment-maintenance tasks (MergeRollupSegmentConverter /
  * SegmentPurger semantics): concatenate, rollup with per-metric
  * aggregators, purge + modify. */
class MinionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_minion_spec/$name"

  private val seg = Seq(
    ("click", 1L, 10.0, 5.0),
    ("click", 1L, 20.0, 7.0),
    ("view", 2L, 5.0, 1.0)).toDF("etype", "bucket", "v", "m")

  test("MergeType.fromString is case-insensitive and rejects unknowns") {
    assert(Minion.MergeType.fromString("CONCATENATE") === Minion.Concatenate)
    assert(Minion.MergeType.fromString("rollup") === Minion.Rollup)
    intercept[IllegalArgumentException](Minion.MergeType.fromString("append"))
  }

  test("concatenate merges segments with rows unchanged") {
    seg.limit(2).write.mode("overwrite").parquet(tmp("c0"))
    seg.filter($"etype" === "view").write.mode("overwrite").parquet(tmp("c1"))
    Minion.mergeSegments(spark, Seq(tmp("c0"), tmp("c1")), tmp("cout"),
      Minion.Concatenate)
    val out = spark.read.parquet(tmp("cout"))
    assert(out.count() === 3)
    assert(out.agg(sum($"v")).as[Double].head() === 35.0)
  }

  test("rollup collapses duplicate dim combos, SUM default + MAX override") {
    seg.limit(2).write.mode("overwrite").parquet(tmp("r0"))
    seg.write.mode("overwrite").parquet(tmp("r1"))
    Minion.mergeSegments(spark, Seq(tmp("r0"), tmp("r1")), tmp("rout"),
      Minion.Rollup, groupByCols = Seq("etype", "bucket"),
      aggTypes = Map("m" -> "MAX")) // v defaults to SUM
    val out = spark.read.parquet(tmp("rout")).orderBy($"etype")
    assert(out.columns.toSeq === Seq("etype", "bucket", "v", "m"))
    val rows = out.as[(String, Long, Double, Double)].collect().toSeq
    // click: v = (10+20) + (10+20) = 60 summed, m = max(5,7) = 7
    assert(rows === Seq(("click", 1L, 60.0, 7.0), ("view", 2L, 5.0, 1.0)))
  }

  test("rollup rejects unknown aggregators and missing group columns") {
    seg.write.mode("overwrite").parquet(tmp("e0"))
    intercept[IllegalArgumentException](
      Minion.mergeSegments(spark, Seq(tmp("e0")), tmp("eout"),
        Minion.Rollup, groupByCols = Seq("etype", "bucket"),
        aggTypes = Map("v" -> "AVG")))
    intercept[IllegalArgumentException](
      Minion.mergeSegments(spark, Seq(tmp("e0")), tmp("eout"), Minion.Rollup))
  }

  test("rollup names a non-numeric column defaulted to SUM instead of null-summing it") {
    seg.write.mode("overwrite").parquet(tmp("s0"))
    // 'etype' is a string column left out of groupByCols: the default
    // SUM must fail loudly, not cast-sum it into an all-null column
    val e = intercept[IllegalArgumentException](
      Minion.mergeSegments(spark, Seq(tmp("s0")), tmp("sout"),
        Minion.Rollup, groupByCols = Seq("bucket")))
    assert(e.getMessage.contains("etype"), e.getMessage)
  }

  test("backfillDateTime derives the dateTimeSpec column from the time column") {
    val rows = Seq((1L, 0L), (2L, 900000L), (3L, 3600000L)).toDF("id", "ms")
    rows.write.mode("overwrite").parquet(tmp("b0"))
    Minion.backfillDateTime(spark, tmp("b0"), tmp("bout"),
      timeCol = "ms", destCol = "ep15",
      srcFormat = "1:MILLISECONDS:EPOCH", destFormat = "15:MINUTES:EPOCH",
      granularity = "15:MINUTES")
    val out = spark.read.parquet(tmp("bout")).orderBy($"id")
    assert(out.columns.toSeq === Seq("id", "ms", "ep15"))
    assert(out.select($"ep15").as[Long].collect().toSeq === Seq(0L, 1L, 4L))
    intercept[IllegalArgumentException](
      Minion.backfillDateTime(spark, tmp("b0"), tmp("b0"),
        "ms", "x", "1:MILLISECONDS:EPOCH", "1:HOURS:EPOCH", "1:HOURS"))
  }

  test("segmentEndTime reads max(timeCol) from footers only; unknown when stats can't say") {
    Seq((1L, 100L), (2L, 500L)).toDF("id", "t")
      .repartition(2).write.mode("overwrite").parquet(tmp("et0"))
    assert(Minion.segmentEndTime(spark, tmp("et0"), "t") === Some(500L))
    // absent column → unknown
    assert(Minion.segmentEndTime(spark, tmp("et0"), "nope") === None)
    // non-integral time column → unknown
    assert(Minion.segmentEndTime(spark, tmp("et0"), "id").isDefined)
    Seq(("a", 1.5)).toDF("s", "d").write.mode("overwrite").parquet(tmp("et1"))
    assert(Minion.segmentEndTime(spark, tmp("et1"), "s") === None)
    assert(Minion.segmentEndTime(spark, tmp("et1"), "d") === None)
  }

  test("enforceRetention purges expired segments, keeps straddlers/invalid/unknown") {
    import java.util.concurrent.TimeUnit
    val day = 86400000L
    val now = java.time.Instant.parse("2020-06-15T00:00:00Z").toEpochMilli
    def seg(name: String, times: Seq[Long]): String = {
      val p = tmp(s"ret_$name")
      times.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    val old = seg("old", Seq(now - 40 * day, now - 35 * day))     // wholly expired
    val straddle = seg("straddle", Seq(now - 40 * day, now - day)) // end time recent
    val fresh = seg("fresh", Seq(now - day))
    val invalid = seg("invalid", Seq(-5L))                         // pre-1971: warn-keep
    val purged = Minion.enforceRetention(spark,
      Seq(old, straddle, fresh, invalid), "ts", TimeUnit.MILLISECONDS,
      retentionMs = 30 * day, nowMs = now)
    assert(purged === Seq(old))
    assert(!new java.io.File(old).exists())
    assert(new java.io.File(straddle).exists())
    assert(new java.io.File(fresh).exists())
    assert(new java.io.File(invalid).exists())
    // TimeUnit conversion: same data in DAYS units
    val oldDays = seg("old_days", Seq((now - 40 * day) / day))
    assert(Minion.enforceRetention(spark, Seq(oldDays), "ts", TimeUnit.DAYS,
      30 * day, now) === Seq(oldDays))
  }

  test("realtimeToOffline: union + time conversion + sorted offline segment") {
    val rt0 = Seq((3L, 7200000L, "c"), (1L, 0L, "a")).toDF("id", "ms", "s")
    val rt1 = Seq((2L, 3600000L, "b")).toDF("id", "ms", "s")
    rt0.write.mode("overwrite").parquet(tmp("rt0"))
    rt1.write.mode("overwrite").parquet(tmp("rt1"))
    Minion.realtimeToOffline(spark, Seq(tmp("rt0"), tmp("rt1")), tmp("off"),
      sortedColumn = Some("id"),
      timeConvert = Some(("ms", "1:MILLISECONDS:EPOCH", "1:HOURS:EPOCH", "1:HOURS")))
    val out = spark.read.parquet(tmp("off"))
    assert(out.columns.toSeq === Seq("id", "ms", "s"))
    assert(out.orderBy($"id").as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 2L, "c")))
    intercept[IllegalArgumentException](
      Minion.realtimeToOffline(spark, Seq(tmp("off")), tmp("off")))
  }

  test("segmentTimeRange and segmentRowCount come from footers") {
    Seq((1L, 100L), (2L, 700L), (3L, 400L)).toDF("id", "t")
      .repartition(2).write.mode("overwrite").parquet(tmp("tr0"))
    assert(Minion.segmentTimeRange(spark, tmp("tr0"), "t") === Some((100L, 700L)))
    assert(Minion.segmentRowCount(spark, tmp("tr0")) === 3L)
    assert(Minion.segmentTimeRange(spark, tmp("tr0"), "nope") === None)
  }

  test("a file: URI segment reads, checks and expires like its plain path") {
    import java.util.concurrent.TimeUnit
    val day = 86400000L
    val now = java.time.Instant.parse("2020-06-15T00:00:00Z").toEpochMilli
    val path = tmp("uri_seg")
    Seq((1L, now - 40 * day), (2L, now - 35 * day), (3L, now - 38 * day)).toDF("id", "ts")
      .repartition(2).write.mode("overwrite").parquet(path)
    val uri = new java.io.File(path).toURI.toString
    assert(uri.startsWith("file:"))
    assert(Minion.segmentTimeRange(spark, uri, "ts") === Some((now - 40 * day, now - 35 * day)))
    assert(Minion.segmentTimeRange(spark, uri, "ts") === Minion.segmentTimeRange(spark, path, "ts"))
    assert(Minion.segmentRowCount(spark, uri) === 3L)
    assert(Minion.segmentRowCount(spark, path) === 3L)
    val r = Minion.checkSegmentIntervals(spark, Seq(uri), "ts", TimeUnit.MILLISECONDS)
    assert(r.totalDocs === 3L)
    assert(r.segmentsWithInvalidInterval.isEmpty)
    assert(Minion.enforceRetention(spark, Seq(uri), "ts", TimeUnit.MILLISECONDS,
      retentionMs = 30 * day, nowMs = now) === Seq(uri))
    assert(!new java.io.File(path).exists())
  }

  test("checkSegmentIntervals: missing-segment math, totals, invalid reporting") {
    import java.util.concurrent.TimeUnit
    val day = 86400000L
    val base = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
    def seg(name: String, times: Seq[Long]): String = {
      val p = tmp(s"iv_$name")
      times.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    // days 0, 1 — contiguous; then day 4 (days 2, 3 missing); one
    // invalid-interval segment (pre-1971) excluded from the gap math
    val s0 = seg("d0", Seq(base, base + day / 2))
    val s1 = seg("d1", Seq(base + day, base + day + 1000))
    val s4 = seg("d4", Seq(base + 4 * day, base + 4 * day + 1000))
    val bad = seg("bad", Seq(-5L))
    val r = Minion.checkSegmentIntervals(spark, Seq(s0, s1, s4, bad), "ts",
      TimeUnit.MILLISECONDS, "daily")
    assert(r.numSegments === 4)
    assert(r.totalDocs === 7L) // 2 + 2 + 2 + 1 rows, counted from footers
    assert(r.maxSegmentEndTimeMs === Some(base + 4 * day + 1000))
    assert(r.numMissingSegments === 2) // days 2 and 3
    assert(r.segmentsWithInvalidInterval === Seq(bad))
    // a long interval spanning several periods counts no missing inside it
    val long = seg("long", Seq(base, base + 3 * day))
    val r2 = Minion.checkSegmentIntervals(spark, Seq(long, s4), "ts",
      TimeUnit.MILLISECONDS, "daily")
    assert(r2.numMissingSegments === 0)
    // fewer than two valid intervals → nothing can be missing
    assert(Minion.checkSegmentIntervals(spark, Seq(s0), "ts",
      TimeUnit.MILLISECONDS).numMissingSegments === 0)
  }

  test("purgeSegment drops purged rows, modifies survivors, needs one of the two") {
    seg.write.mode("overwrite").parquet(tmp("p0"))
    Minion.purgeSegment(spark, tmp("p0"), tmp("pout"),
      purge = Some($"etype" === "view"),
      modify = Seq("v" -> ($"v" * 2)))
    val out = spark.read.parquet(tmp("pout"))
    assert(out.count() === 2)
    assert(out.agg(sum($"v")).as[Double].head() === 60.0)
    intercept[IllegalArgumentException](
      Minion.purgeSegment(spark, tmp("p0"), tmp("pout")))
  }
}
