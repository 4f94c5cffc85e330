package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Minion-style segment maintenance tasks — the reference's background
  * segment conversions, re-expressed as batch Spark jobs over parquet
  * segments:
  *
  *  - merge/rollup (`pinot-core/.../minion/rollup/
  *    MergeRollupSegmentConverter.java`): CONCATENATE merges N input
  *    segments into one with rows unchanged; ROLLUP groups by every
  *    dimension + the time column and aggregates each metric with a
  *    per-metric `ValueAggregator` (`minion/rollup/aggregate/
  *    ValueAggregatorFactory.java` — SUM and MAX; unlisted metrics
  *    default to SUM, `RollupRecordAggregator.java:40-41`).
  *  - purge/modify (`pinot-core/.../minion/SegmentPurger.java`): drop
  *    records matching a `RecordPurger` predicate and/or rewrite
  *    columns with a `RecordModifier`, producing a new segment.
  *
  * Scale shape: CONCATENATE and purge are map-only (no shuffle — a
  * scan, a filter/projection, a write); ROLLUP is ONE shuffle on the
  * group keys with map-side partial aggregation, so the combine cost
  * is bounded by distinct dimension combos per partition, not row
  * count. All run segment-parallel — at 100 TB each merge task handles
  * its own segment group, exactly like the reference's minion workers.
  */
object Minion {

  /** Canonicalized same-directory check: raw string equality misses
    * trailing slashes and relative-vs-absolute spellings of one dir,
    * and overwrite-while-reading the same path destroys the source
    * segment mid-job. */
  private def samePath(a: String, b: String): Boolean =
    new java.io.File(a).getCanonicalPath == new java.io.File(b).getCanonicalPath

  /** Merge strategy (minion/rollup/MergeType.java). */
  sealed trait MergeType
  case object Concatenate extends MergeType
  case object Rollup extends MergeType

  object MergeType {
    /** Case-insensitive parse (MergeType.fromString). */
    def fromString(name: String): MergeType = name.toLowerCase match {
      case "concatenate" => Concatenate
      case "rollup"      => Rollup
      case other => throw new IllegalArgumentException(s"Invalid merge type : $other")
    }
  }

  /** Per-metric rollup aggregator (ValueAggregatorFactory: SUM, MAX). */
  private def valueAgg(aggType: String, c: String): Column = aggType.toUpperCase match {
    case "SUM" => sum(col(c)).as(c)
    case "MAX" => max(col(c)).as(c)
    case other => throw new IllegalArgumentException(
      s"No value aggregator for: $other (SUM, MAX)")
  }

  /** Merge input segments into one output segment
    * (MergeRollupSegmentConverter.convert).
    *
    * For [[Rollup]], `groupByCols` plays the role of the schema's
    * dimensions + time column (the reference derives them from segment
    * metadata; here segments are plain parquet, so the caller names
    * them) and every remaining column is a metric aggregated with
    * `aggTypes(name)` (default SUM). Output column order matches the
    * input schema, so downstream readers see the same table shape.
    */
  def mergeSegments(spark: SparkSession, inputDirs: Seq[String], outDir: String,
      mergeType: MergeType, groupByCols: Seq[String] = Nil,
      aggTypes: Map[String, String] = Map.empty,
      sortBy: Seq[String] = Nil): Unit = {
    require(inputDirs.nonEmpty, "at least one input segment required")
    require(!inputDirs.exists(samePath(_, outDir)),
      "output segment dir must not be one of the input segment dirs")
    val merged = inputDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val result = mergeType match {
      case Concatenate => merged
      case Rollup =>
        require(groupByCols.nonEmpty,
          "rollup requires group-by columns (the schema's dimensions + time column)")
        val metrics = merged.columns.toSeq.filterNot(groupByCols.contains)
        require(metrics.nonEmpty, "rollup requires at least one metric column")
        // a metric defaulted to SUM must actually be numeric — the
        // reference only aggregates schema-declared numeric metrics, so
        // a string column missing from groupByCols is a caller mistake,
        // not a column to silently cast-sum into nulls
        val types = merged.schema.map(f => f.name -> f.dataType).toMap
        metrics.filterNot(aggTypes.contains).foreach { m =>
          require(types(m).isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"rollup metric column '$m' is ${types(m).simpleString}, not numeric: " +
              "list it in groupByCols or give it an explicit aggTypes entry")
        }
        val aggs = metrics.map(m => valueAgg(aggTypes.getOrElse(m, "SUM"), m))
        merged.groupBy(groupByCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(merged.columns.toSeq.map(col): _*)
    }
    val sorted =
      if (sortBy.isEmpty) result
      else result.sortWithinPartitions(sortBy.map(col): _*)
    sorted.write.mode("overwrite").parquet(outDir)
  }

  /** Backfill a dateTime column derived from the time column
    * (minion/BackfillDateTimeColumn.java: new segment = old segment +
    * a column computed from the time column per the dest
    * DateTimeFieldSpec's `size:unit:EPOCH|SDF` format + granularity;
    * an existing column of that name is overwritten). Map-only — a
    * scan, one derived projection, a write. */
  def backfillDateTime(spark: SparkSession, inputDir: String, outDir: String,
      timeCol: String, destCol: String, srcFormat: String, destFormat: String,
      granularity: String): Unit = {
    require(!samePath(inputDir, outDir),
      "Original index dir and backfill index dir should not be the same")
    spark.read.parquet(inputDir)
      .withColumn(destCol, graft.functions.DateTimeOps.dateTimeConvert(
        col(timeCol), srcFormat, destFormat, granularity))
      .write.mode("overwrite").parquet(outDir)
  }

  /** Segment END time from parquet footer statistics — the analog of
    * the reference's `SegmentZKMetadata.getEndTime` (recorded at
    * segment build, consulted without touching data). None when the
    * column is absent or any chunk lacks stats (the caller then
    * treats end time as unknown, mirroring the reference's
    * warn-and-keep). */
  def segmentEndTime(spark: SparkSession, segmentDir: String,
      timeCol: String): Option[Long] =
    segmentTimeRange(spark, segmentDir, timeCol).map(_._2)

  /** Segment (start, end) time interval from parquet footer
    * statistics — `SegmentZKMetadata.getTimeInterval`. Reads only the
    * footers of the segment's files: min/max statistics of `timeCol`
    * across all row groups. None when the column is absent or any
    * chunk lacks stats.
    *
    * Integral time columns only (epoch values — the reference stores
    * segment times as long epoch values in the configured TimeUnit).
    * The segment is listed by [[FileSets.segmentFiles]]. */
  def segmentTimeRange(spark: SparkSession, segmentDir: String,
      timeCol: String): Option[(Long, Long)] = {
    val files = FileSets.segmentFiles(spark.sessionState.newHadoopConf(), segmentDir)
    filesTimeRange(spark, files.map(_.getPath.toString), timeCol)
  }

  /** [[segmentTimeRange]] over the given files (paths or URIs); None
    * when there are none. */
  def filesTimeRange(spark: SparkSession, files: Seq[String],
      timeCol: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    if (files.isEmpty) return None
    // per file: None = unknown (missing column/stats — poisons the
    // segment), Some(None) = no rows (contributes nothing),
    // Some(Some((min, max))) = known file interval
    val perFile: Seq[Option[Option[(Long, Long)]]] = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val groups = r.getRowGroups.asScala
        def stat(get: org.apache.parquet.column.statistics.Statistics[_] => Any) =
          groups.flatMap { block =>
            block.getColumns.asScala
              .find(_.getPath.toDotString == timeCol)
              .flatMap { chunk =>
                val st = chunk.getStatistics
                if (st == null || !st.hasNonNullValue) None
                else get(st) match {
                  case l: java.lang.Long => Some(l.longValue())
                  case i: java.lang.Integer => Some(i.longValue())
                  case _ => None // non-integral time column: unknown
                }
              }
          }
        val maxes = stat(_.genericGetMax)
        val mins = stat(_.genericGetMin)
        if (groups.isEmpty) Some(None) // empty file: no constraint
        // every row group must report stats or the interval is unknown
        else if (maxes.size == groups.size && mins.size == groups.size)
          Some(Some((mins.min, maxes.max)))
        else None
      } finally r.close()
    }
    if (perFile.exists(_.isEmpty)) None
    else {
      val known = perFile.flatten.flatten
      if (known.isEmpty) None
      else Some((known.map(_._1).min, known.map(_._2).max))
    }
  }

  /** Footer-metadata row count across a segment's files — the
    * reference's `SegmentZKMetadata.getTotalRawDocs`, never a scan. */
  def segmentRowCount(spark: SparkSession, segmentDir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    FileSets.segmentFiles(conf, segmentDir).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Result of [[checkSegmentIntervals]]
    * (`OfflineSegmentIntervalChecker`'s validation gauges). */
  final case class IntervalReport(
      numSegments: Int,
      totalDocs: Long,
      maxSegmentEndTimeMs: Option[Long],
      numMissingSegments: Int,
      segmentsWithInvalidInterval: Seq[String])

  /** Push-frequency name → expected segment interval
    * (OfflineSegmentIntervalChecker.convertToDuration: invalid or
    * finer-than-hourly frequencies are treated as daily). */
  def pushFrequencyMs(name: String): Long = name.toLowerCase match {
    case "hourly" => 3600000L
    case "weekly" => 7L * 86400000L
    case "monthly" => 30L * 86400000L
    case _ => 86400000L // daily (the reference's default)
  }

  /** Offline segment interval validation
    * (`controller/.../validation/OfflineSegmentIntervalChecker
    * .java:82-197`): per-table gauges from segment METADATA only —
    * total docs (footer row counts), max segment end time, and the
    * missing-segment count: intervals sorted by start; a start-to-
    * start gap spanning ≥2 expected periods counts the skipped
    * periods as missing, and a long interval advances its effective
    * start to the last period it covers. Segments whose interval is
    * unknown or outside the 1971..2071 sanity window are reported
    * (the reference logs them) and excluded from the gap math. */
  def checkSegmentIntervals(spark: SparkSession, segmentDirs: Seq[String],
      timeCol: String, timeUnit: java.util.concurrent.TimeUnit,
      pushFrequency: String = "daily"): IntervalReport = {
    val MinValidTimeMs = java.time.Instant.parse("1971-01-01T00:00:00Z").toEpochMilli
    val MaxValidTimeMs = java.time.Instant.parse("2071-01-01T00:00:00Z").toEpochMilli
    val withRange = segmentDirs.map(d =>
      d -> segmentTimeRange(spark, d, timeCol).map { case (s, e) =>
        (timeUnit.toMillis(s), timeUnit.toMillis(e))
      })
    val (valid, invalid) = withRange.partition {
      case (_, Some((s, e))) =>
        s >= MinValidTimeMs && s <= MaxValidTimeMs &&
          e >= MinValidTimeMs && e <= MaxValidTimeMs
      case _ => false
    }
    val intervals = valid.flatMap(_._2).sortBy(_._1)
    val frequencyMs = pushFrequencyMs(pushFrequency)
    var numMissing = 0
    if (intervals.size >= 2) {
      var lastStart = -1L
      intervals.foreach { case (start0, end) =>
        var start = start0
        if (lastStart != -1L && start - lastStart > frequencyMs)
          numMissing += ((start - lastStart - frequencyMs) / frequencyMs).toInt
        while (start + frequencyMs <= end) start += frequencyMs
        lastStart = math.max(lastStart, start)
      }
    }
    IntervalReport(
      numSegments = segmentDirs.size,
      totalDocs = segmentDirs.map(segmentRowCount(spark, _)).sum,
      maxSegmentEndTimeMs =
        if (intervals.isEmpty) None else Some(intervals.map(_._2).max),
      numMissingSegments = numMissing,
      segmentsWithInvalidInterval = invalid.map(_._1))
  }

  /** Time-based retention (`controller/.../retention/
    * TimeRetentionStrategy.java:40-59` driven by `RetentionManager`):
    * a segment is purgeable when `now - endTimeMs > retentionMs`,
    * with end times outside the reference's sanity window (1971..2071,
    * `TimeUtils.timeValueInValidRange`) or unknown treated as KEEP —
    * exactly the reference's warn-and-keep. Purgeable segment dirs
    * are deleted; the deleted dirs are returned. `now` is a parameter
    * (not the wall clock) so retention runs are reproducible.
    *
    * Scale shape: footer-metadata reads + directory deletes only —
    * no row is ever scanned, however large the table. */
  def enforceRetention(spark: SparkSession, segmentDirs: Seq[String],
      timeCol: String, timeUnit: java.util.concurrent.TimeUnit,
      retentionMs: Long, nowMs: Long): Seq[String] = {
    val MinValidTimeMs = java.time.Instant.parse("1971-01-01T00:00:00Z").toEpochMilli
    val MaxValidTimeMs = java.time.Instant.parse("2071-01-01T00:00:00Z").toEpochMilli
    segmentDirs.filter { dir =>
      segmentEndTime(spark, dir, timeCol).exists { endTime =>
        val endTimeMs = timeUnit.toMillis(endTime)
        endTimeMs >= MinValidTimeMs && endTimeMs <= MaxValidTimeMs &&
          nowMs - endTimeMs > retentionMs
      }
    }.map { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      dir
    }
  }

  /** Realtime→offline segment conversion (`realtime/converter/
    * RealtimeSegmentConverter.java`): sealed realtime segments become
    * an offline segment with the offline layout — optional time-column
    * conversion to the offline granularity (`getUpdatedSchema`'s
    * outgoing TimeGranularitySpec, via the `dateTimeConvert` format
    * library), sorted-column ordering, and the offline sink's
    * bloom-filter option. Map-only per segment group: scan, one
    * projection, sorted write. */
  def realtimeToOffline(spark: SparkSession, realtimeDirs: Seq[String],
      outDir: String, sortedColumn: Option[String] = None,
      timeConvert: Option[(String, String, String, String)] = None,
      bloomFilterColumns: Seq[String] = Nil): Unit = {
    require(realtimeDirs.nonEmpty, "at least one realtime segment required")
    require(!realtimeDirs.exists(samePath(_, outDir)),
      "offline segment dir must not be one of the realtime segment dirs")
    val merged = realtimeDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val converted = timeConvert.fold(merged) {
      case (timeColName, srcFormat, destFormat, granularity) =>
        merged.withColumn(timeColName, graft.functions.DateTimeOps.dateTimeConvert(
          col(timeColName), srcFormat, destFormat, granularity))
    }
    Ingest.writeSegment(converted, Ingest.CompoundTransform(Nil), outDir,
      sortBy = sortedColumn.toSeq, bloomFilterColumns = bloomFilterColumns)
  }

  /** Purge and/or modify a segment's records into a new segment
    * (SegmentPurger.purgeSegment): rows where `purge` evaluates true
    * are dropped (null-safe — a null predicate keeps the row, matching
    * filter semantics the RecordPurger boolean contract implies), then
    * `modify` rewrites columns on the survivors. At least one of the
    * two must be given (SegmentPurger.java:59). */
  def purgeSegment(spark: SparkSession, inputDir: String, outDir: String,
      purge: Option[Column] = None,
      modify: Seq[(String, Column)] = Nil): Unit = {
    require(purge.nonEmpty || modify.nonEmpty,
      "At least one of record purger and modifier should be non-null")
    require(!samePath(inputDir, outDir),
      "output segment dir must differ from the input segment dir")
    val df = spark.read.parquet(inputDir)
    val kept = purge.fold(df)(p => df.filter(!coalesce(p, lit(false))))
    val modified = modify.foldLeft(kept) { case (d, (c, e)) => d.withColumn(c, e) }
    modified.write.mode("overwrite").parquet(outDir)
  }
}
