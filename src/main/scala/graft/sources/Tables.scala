package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Table registry over the driver-generated parquet test tables.
  *
  * Mirrors the reference's notion of a named table backed by columnar
  * segments (Pinot: `pinot-common/.../common/data/Segment.java`,
  * `pinot-core/.../indexsegment/immutable/`): here one logical table =
  * one parquet dataset; a Spark task over a parquet split plays the role
  * of Pinot's per-segment operator tree. At 100 TB the same code path
  * holds — parquet row-group stats give min/max pruning, dictionary
  * pages give the dictionary-encoding benefits Pinot hand-builds.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table. Plain `spark.read.parquet` keeps the scan fully
    * declarative so Catalyst pushes filters/projections into the
    * parquet reader (PushedFilters / ReadSchema in explain output).
    *
    * The resolved relation is cached per table path, keyed on a
    * snapshot of the table (the broker's routing table in the
    * reference is rebuilt only when the segment set changes, not per
    * query). `spark.read.parquet` lists the directory and runs a
    * one-task job to infer the schema; on unchanged files a load
    * instead returns a fresh frame over the cached relation: no job,
    * and new attribute ids as a fresh read has, so two loads of one
    * table still join. The snapshot key holds:
    *  - the `(name, length, mtime)` stamps of a plain `listStatus` of
    *    `<dir>/<name>.parquet` (and of its partition directories),
    *    `.`-names dropped, and for a file-sink table of its
    *    `_spark_metadata` log ([[FileSets.listTable]]);
    *  - the calling session, by identity (a relation is bound to the
    *    session that resolved it), and the parquet schema-inference
    *    confs [[inferenceConfs]].
    * The listing is taken BEFORE the relation is built, so a cached
    * relation is never older than its key: a commit that lands
    * between the two only costs one more miss on the next load. A
    * changed key rebuilds the relation and replaces the path's entry;
    * at most [[FileSets.MaxEntries]] paths stay cached. A missing path
    * is never cached and raises `spark.read.parquet`'s own error.
    *
    * A rebuild reuses the previous entry's data schema
    * (`spark.read.schema(s).parquet`: a listing, no job) when inference
    * would read the same bytes again. With `mergeSchema` off Spark
    * infers from ONE file ([[inferenceFile]]): `_common_metadata`, else
    * `_metadata`, else the first data file by path, among the files
    * the relation lists (for a file sink, the committed ones). Reuse
    * needs the same session and inference confs, `mergeSchema` off, no
    * partition columns, and that file unchanged in the new relation
    * (same path, length and mtime). Anything else (a new file that
    * sorts first, an overwrite of the first file, a partitioned
    * table, schema merging) rebuilds with `spark.read.parquet`. The
    * file sink names part files `part-<n>-<uuid>`, so an appended
    * file rarely sorts first.
    *
    * `events.ts` has appeared in two physical encodings across
    * test-data generations: TIMESTAMP(NANOS) — which Spark 4 only
    * reads via `spark.sql.legacy.parquet.nanosAsLong`, as an
    * epoch-nanos LongType — and TIMESTAMP(MICROS, isAdjustedToUTC =
    * false), which reads as TIMESTAMP_NTZ. Either way queries see one
    * session-zone TimestampType column: nanos normalize with integer
    * division (`div 1000`, no double round-trip, so no precision loss
    * on ~1.7e18 nano epochs) and NTZ casts wall-clock-preserving under
    * the UTC session zone every entry point sets. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = relation(spark, s"$dir/$name.parquet")
    val tsType = df.schema.fields.find(_.name == "ts").map(_.dataType)
    if (name == "events" && tsType.contains(org.apache.spark.sql.types.LongType)) {
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    } else if (name == "events" &&
        tsType.contains(org.apache.spark.sql.types.TimestampNTZType)) {
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    } else df
  }

  /** Session confs that change the schema `spark.read.parquet` infers. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Snapshot key of one table path; SparkSession does not override
    * `equals`, so the session compares by identity. */
  private final case class Snapshot(session: SparkSession,
      confs: Seq[Option[String]], files: Seq[FileSets.Stamp])

  /** A resolved relation, the key it was resolved under and the stamp
    * of the file its data schema comes from ([[inferenceFile]]). */
  private final case class Resolved(key: Snapshot, relation: HadoopFsRelation,
      inferredFrom: Option[FileSets.Stamp])

  private val relations = new FileSets.Lru[String, Resolved]

  private def relation(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val snapshot =
      try Some(Snapshot(spark, inferenceConfs.map(spark.conf.getOption),
        FileSets.listTable(root.getFileSystem(spark.sessionState.newHadoopConf()), root)))
      catch { case _: java.io.FileNotFoundException => None }
    snapshot match {
      case None => spark.read.parquet(path)
      case Some(key) => relations.get(path) match {
        case Some(cached) if cached.key == key => spark.baseRelationToDataFrame(cached.relation)
        case previous =>
          // the previous snapshot's schema, when inference would read
          // the very same file again; else a full read
          val reused = previous.filter(canReuseSchema(spark, _, key)).flatMap { cached =>
            val df = spark.read.schema(cached.relation.dataSchema).parquet(path)
            val sameFile = fsRelation(df).exists(r =>
              r.partitionSchema.isEmpty && inferenceFile(r) == cached.inferredFrom)
            if (sameFile) Some(df) else None
          }
          val df = reused.getOrElse(spark.read.parquet(path))
          fsRelation(df).foreach(r => relations.put(path, Resolved(key, r, inferenceFile(r))))
          df
      }
    }
  }

  private def fsRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => Some(r)
      case _ => None
    }

  /** Whether a changed snapshot may take `cached`'s data schema instead
    * of inferring it: same session and inference confs, no schema
    * merging (which reads every file), no partition columns (inferred
    * from directory names, not from a file), and a known inference
    * file, which the caller still compares on the new relation. */
  private def canReuseSchema(spark: SparkSession, cached: Resolved, key: Snapshot): Boolean =
    (cached.key.session eq key.session) && cached.key.confs == key.confs &&
      !spark.sessionState.conf.isParquetSchemaMergingEnabled &&
      cached.relation.partitionSchema.isEmpty && cached.inferredFrom.isDefined

  /** The one file `spark.read.parquet` infers a schema from when
    * `mergeSchema` is off (Spark's `ParquetUtils.inferSchema`):
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path, all among the files the relation's index lists (for a
    * file-sink table, the committed ones). None for an index of
    * another kind, whose schema is then never reused. */
  private def inferenceFile(rel: HadoopFsRelation): Option[FileSets.Stamp] = {
    val files = rel.location match {
      case index: PartitioningAwareFileIndex => FileSets.fingerprint(index.allFiles())
      case _ => Nil
    }
    val summaries = Seq("_common_metadata", "_metadata")
    def named(n: String) = files.find(s => new Path(s.path).getName == n)
    named(summaries(0)).orElse(named(summaries(1)))
      .orElse(files.find(s => !summaries.contains(new Path(s.path).getName)))
  }

  /** Register every table as a temp view so `spark.sql` and the PQL
    * front-end resolve names like the reference's broker routing does
    * (`BaseBrokerRequestHandler.java:156-187` maps table name → route;
    * here the catalog does). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Exact row count from parquet FOOTER metadata when — and only
    * when — the frame is a bare unfiltered parquet scan: the
    * `MetadataBasedAggregationOperator` path (InstancePlanMakerImplV2
    * .java:148-169 plans filterless group-by-less COUNT(*) against
    * segment metadata, zero docs scanned). Footer reads are
    * DISTRIBUTED over executors — at 100 TB a table is 10⁵+ segments
    * and a driver-side loop would serialize on the driver exactly like
    * a collect. Counts carry over per table root and file stamp
    * ([[FileSets.Carry]]): a repeated COUNT(*) opens no footer, and one
    * after a commit opens only the new files' footers, as the
    * reference records a segment's doc count once, at commit. Any
    * transform, filter, or non-parquet source returns None and the
    * caller falls back to the ordinary scan-based count. */
  private val footerCounts = new FileSets.Carry[Seq[String], Long]

  def metadataRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        try {
          // ALL files the scan would read — filtering by a ".parquet"
          // suffix here would silently undercount tables whose part
          // files carry other names (Hive/Impala writers), a wrong
          // answer rather than a fallback. The FileIndex has the
          // statuses cached: the stamps are free.
          val files = FileSets.scanFiles(fs)
          Some(footerCounts.values(FileSets.rootKey(fs), files) { fresh =>
            FileSets.perFile(df.sparkSession, fresh) { (p, conf) =>
              import org.apache.parquet.hadoop.ParquetFileReader
              import org.apache.parquet.hadoop.util.HadoopInputFile
              val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
              try r.getRecordCount finally r.close()
            }
          }.sum)
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** Top-level column names of a segment, from parquet FOOTER metadata
    * only — the `SegmentMetadata.getSchema()` the reference's pruners
    * consult without touching data. Empty when the dir has no parquet
    * files. All files of a segment share one schema (single write),
    * so the first footer speaks for the segment
    * ([[FileSets.segmentFiles]]: a `file:` URI or any Hadoop path
    * works). */
  def segmentColumns(spark: SparkSession, segmentDir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    FileSets.segmentFiles(conf, segmentDir).headOption.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
        finally r.close()
      }.getOrElse(Set.empty)
  }

  /** Schema-evolution segment pruning (`query/pruner/
    * DataSchemaSegmentPruner.java:36-40`): a query over an evolved
    * table touches only the segments whose schema contains EVERY
    * queried column — a segment written before a column existed
    * contributes nothing, it is not padded with nulls. Footer-metadata
    * decision per segment (no rows read to prune), then one
    * `unionByName` scan over the covering segments projected to the
    * queried columns. Returns the surviving scan plus the pruned dirs
    * (the reference logs the same). */
  def loadEvolved(spark: SparkSession, segmentDirs: Seq[String],
      queryColumns: Seq[String]): (Option[DataFrame], Seq[String]) = {
    require(queryColumns.nonEmpty, "at least one query column required")
    val (covered, pruned) = segmentDirs.partition { dir =>
      val cols = segmentColumns(spark, dir)
      queryColumns.forall(cols.contains)
    }
    val df = covered.map { dir =>
      spark.read.parquet(dir).select(queryColumns.map(
        org.apache.spark.sql.functions.col): _*)
    }.reduceOption(_ unionByName _)
    (df, pruned)
  }
}
