package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNull, LessThan, LessThanOrEqual, Literal, NullsFirst, Or, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Offset, Project, Sort}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.ParquetOutputFormat

/** Ordered selection over a SORTED segment layout — the Spark-native
  * analog of the reference's sorted-column fast path
  * (`IndexingConfig.sortedColumn` + per-column `isSorted` segment
  * metadata; `operator/filter/SortedInvertedIndexBasedFilterOperator
  * .java:1-164` answers sorted-column predicates by binary search on
  * the sorted forward index instead of scanning).
  *
  * Here the "sorted segment" is a table written range-partitioned +
  * sorted by a column (the [[Ingest]] sorted sink at scale): each
  * parquet file covers a disjoint key range, recorded in its footer's
  * column min/max statistics. An `ORDER BY <sortedCol> ... LIMIT
  * offset, size` query then needs only the head (or tail, DESC) files
  * whose cumulative row counts cover `offset + size` rows — the other
  * files cannot contribute to the page. Like the reference, sortedness
  * is DETECTED from the data's own metadata (Pinot computes `isSorted`
  * at segment load rather than trusting the config), so a table that
  * merely claims a sort order never returns wrong pages.
  *
  * At 100 TB the footer sweep is one distributed metadata job over
  * ~10⁵ file footers (carried over per immutable file) and the query
  * then scans 1-2 files instead of every segment — the same
  * read-bound-by-answer-size property the reference gets from its
  * sorted index.
  */
object SortedLayout {

  /** Per-file footer stats for one column. `min`/`max` are unified to
    * Double for numeric physical types and String for UTF-8 binary —
    * only used for ORDERING files, never returned to the query. */
  final case class FileStat(path: String, rows: Long,
      minD: Double, maxD: Double, minS: String, maxS: String,
      numeric: Boolean) {
    def minKey: Either[Double, String] = if (numeric) Left(minD) else Right(minS)
    def maxKey: Either[Double, String] = if (numeric) Left(maxD) else Right(maxS)
  }

  private def leq(a: Either[Double, String], b: Either[Double, String]): Boolean =
    (a, b) match {
      case (Left(x), Left(y)) => x <= y
      case (Right(x), Right(y)) => x <= y
      case _ => false
    }
  private def eqK(a: Either[Double, String], b: Either[Double, String]): Boolean =
    (a, b) match {
      case (Left(x), Left(y)) => x == y
      case (Right(x), Right(y)) => x == y
      case _ => false
    }

  // per-file stats carry over per (table root, column): repeated pages
  // over the same segments must not re-open 10^5 footers per query,
  // and a page after a commit opens only the new files' footers (each
  // entry holds ~100 B per file)
  private val fileStats = new FileSets.Carry[(Seq[String], String), Option[FileStat]]

  /** The sorted layout of `df`'s scan for `column` (see the relation
    * overload), or None when the frame is not a bare file scan. */
  def layoutFor(df: DataFrame, column: String): Option[Seq[FileStat]] =
    df.queryExecution.optimizedPlan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => layoutFor(fs, column)
      case _ => None
    }

  /** The sorted layout of a relation's files for `column`, or None when
    * the relation is not a parquet scan, the column's per-file ranges
    * overlap (not a sorted layout), any footer lacks stats, or any
    * file contains nulls in the column (null ordering cannot be
    * decided from range stats). Result is ASC-ordered by file min.
    * The disjointness check runs over the whole file set every time;
    * only the footer reads carry over. */
  def layoutFor(fs: HadoopFsRelation, column: String): Option[Seq[FileStat]] =
    if (!fs.fileFormat.isInstanceOf[ParquetFileFormat]) None
    else try {
      val files = FileSets.scanFiles(fs)
      val stats = fileStats.values((FileSets.rootKey(fs), column.toLowerCase), files) {
        fresh => FileSets.perFile(fs.sparkSession, fresh)(fileStat(_, column, _))
      }
      if (stats.exists(_.isEmpty)) None
      else {
        val flat = stats.flatten.filter(_.rows > 0)
        val asc = flat.sortBy(s =>
          s.minKey.fold(d => (0, d, ""), str => (1, 0.0, str)))
        // disjoint ranges: each file starts at or after the
        // previous file's end (boundary ties legal — absorbed
        // by the subset walk)
        val disjoint = asc.zip(asc.drop(1)).forall { case (a, b) =>
          a.numeric == b.numeric && leq(a.maxKey, b.minKey)
        }
        // a single file is "sorted" but prunes nothing
        if (disjoint && asc.size > 1) Some(asc) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Footer stats of one file for one column: Some(None) propagation —
    * outer None = this file disqualifies the layout (missing stats,
    * nulls present, unsupported type). */
  private def fileStat(path: String, column: String,
      conf: org.apache.hadoop.conf.Configuration): Option[FileStat] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0) return Some(FileStat(path, 0, 0, 0, "", "", numeric = true))
      val perBlock = blocks.map { b =>
        b.getColumns.asScala.find(c =>
          c.getPath.toDotString.equalsIgnoreCase(column)).flatMap { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue || st.getNumNulls > 0) None
          else st match {
            case s: org.apache.parquet.column.statistics.IntStatistics =>
              Some((s.getMin.toDouble, s.getMax.toDouble, "", "", true))
            case s: org.apache.parquet.column.statistics.LongStatistics =>
              Some((s.getMin.toDouble, s.getMax.toDouble, "", "", true))
            case s: org.apache.parquet.column.statistics.FloatStatistics =>
              Some((s.getMin.toDouble, s.getMax.toDouble, "", "", true))
            case s: org.apache.parquet.column.statistics.DoubleStatistics =>
              Some((s.getMin, s.getMax, "", "", true))
            case s: org.apache.parquet.column.statistics.BinaryStatistics =>
              Some((0.0, 0.0, s.genericGetMin.toStringUsingUTF8,
                s.genericGetMax.toStringUsingUTF8, false))
            case _ => None
          }
        }
      }
      if (perBlock.exists(_.isEmpty)) None
      else {
        val bs = perBlock.flatten
        val numeric = bs.head._5
        if (!bs.forall(_._5 == numeric)) None
        else if (numeric)
          Some(FileStat(path, rows, bs.map(_._1).min, bs.map(_._2).max, "", "",
            numeric = true))
        else
          Some(FileStat(path, rows, 0, 0, bs.map(_._3).min, bs.map(_._4).max,
            numeric = false))
      }
    } finally r.close()
  }

  /** The files of one ordered page: a fixed subset of a relation's
    * listing, served without listing again. A relation over it is a
    * page already, so [[orderedSelection]] never cuts it twice. */
  final case class PageFiles(files: Seq[FileStatusWithMetadata]) extends FileIndex {
    def rootPaths: Seq[Path] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }

  /** Boundary tightening: ONE probe reads the sort-key row at rank
    * `needed` of `page` and synthesizes a pushed predicate keeping only
    * rows at-or-before it in the requested order — the reference's
    * sorted-index "stop at docId offset+size" made declarative. The
    * subset chosen from footer row counts still reads every row of its
    * head file (file = one row group at our segment sizes); the bound
    * predicate re-cuts INSIDE the file via the parquet page index
    * (column-index row ranges), so the top-K heap sees ~`needed` rows,
    * not ~file rows. Measured 0.30 → 0.14 s on the SF1000 s2 page.
    *
    * Correctness: every kept row is lexicographically ≤ (≥, desc) the
    * probed rank-`needed` sort key — a SUPERSET of the page for ANY
    * tie-breaking, since ties at the boundary all pass. A secondary
    * key's nulls are kept wherever its null ordering puts them first.
    * The bound's literals carry the probed internal values with the
    * columns' own types, so no Cast wraps the column and the
    * predicate still pushes to the scan. A probe miss (fewer rows than
    * `needed`) just skips tightening.
    *
    * The probe is skipped — no job — when every file of `subset` holds
    * at most `parquet.page.row.count.limit` rows (the session's Hadoop
    * conf; parquet's default 20,000): a file that small has no page
    * the bound could skip, and the untightened subset is already a
    * superset the top-K cuts to the same page. */
  private def bound(spark: SparkSession, page: LogicalPlan, subset: Seq[FileStat],
      order: Seq[SortOrder], needed: Long): Option[Expression] = {
    val pageRows = spark.sessionState.newHadoopConf().getInt(
      ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT,
      ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT)
    if (subset.forall(_.rows <= pageRows)) return None
    val keys = order.take(2).takeWhile(k => k.child match {
      case a: Attribute => page.outputSet.contains(a)
      case _ => false
    })
    val attrs = keys.map(_.child.asInstanceOf[Attribute])
    val probe = Limit(Literal(1), Offset(Literal((needed - 1).toInt),
      Sort(keys, global = true, Project(attrs, page))))
    GraftSqlBridge.frame(spark, probe).queryExecution.executedPlan
      .executeCollect().headOption.filterNot(_.isNullAt(0)).map { row =>
        def lit(i: Int) = Literal(row.get(i, attrs(i).dataType), attrs(i).dataType)
        val p = attrs.head
        val strict = if (keys.head.isAscending) LessThan(p, lit(0)) else GreaterThan(p, lit(0))
        val tie = if (keys.size < 2) Literal.TrueLiteral else {
          val s = attrs(1)
          val nullsFirst = keys(1).nullOrdering == NullsFirst
          if (row.isNullAt(1)) { if (nullsFirst) IsNull(s) else Literal.TrueLiteral }
          else {
            val cmp = if (keys(1).isAscending) LessThanOrEqual(s, lit(1))
              else GreaterThanOrEqual(s, lit(1))
            if (nullsFirst) Or(cmp, IsNull(s)) else cmp
          }
        }
        Or(strict, And(EqualTo(p, lit(0)), tie))
      }
  }

  /** `rel` cut to the head (tail, descending) files of its sorted
    * layout that an ordered page of `needed` rows (offset included)
    * can draw from, with the same output attributes; or None when the
    * cut does not apply: `rel` is not a parquet scan, has partition
    * columns, is a page already ([[PageFiles]]) or is not sorted on
    * `order`'s head (which must be one of its attributes), or the page
    * would read every file anyway — the plain plan is then strictly
    * simpler.
    *
    * `order`'s HEAD decides which files can contribute, and its first
    * two keys feed the [[bound]], applied as a `Filter` over the cut.
    * With a `filter` (deterministic, over `rel`'s attributes), footer
    * row counts over-estimate the matching rows, so the subset grows
    * eightfold until the filtered page is full — each probe is one
    * limit-bounded count over the candidate files. */
  def orderedSelection(rel: LogicalRelation, order: Seq[SortOrder],
      filter: Option[Expression], needed: Long): Option[LogicalPlan] = {
    val fs = rel.relation match {
      case fs: HadoopFsRelation
          if fs.partitionSchema.isEmpty && !fs.location.isInstanceOf[PageFiles] => fs
      case _ => return None
    }
    val primary = order.headOption.map(_.child) match {
      case Some(a: Attribute) if rel.outputSet.contains(a) => a
      case _ => return None
    }
    if (needed <= 0 || needed > Int.MaxValue) return None
    layoutFor(fs, primary.name).flatMap { asc =>
      val primaryAsc = order.head.isAscending
      val ordered = if (primaryAsc) asc else asc.reverse
      def headKey(s: FileStat) = if (primaryAsc) s.minKey else s.maxKey
      def tailKey(s: FileStat) = if (primaryAsc) s.maxKey else s.minKey
      // prefix of `ordered` holding ≥ wantRows rows, extended over
      // files whose head TIES the prefix's boundary value (equal keys
      // may span the range-partition cut and the page must see all of
      // them). The boundary is FIXED at the original prefix's end —
      // re-deriving it from each absorbed file would chain through a
      // layout whose every file boundary splits inside one key value
      // (compound-key range partitioning does exactly that) and
      // absorb the whole table. Only rows EQUAL to the boundary can
      // displace prefix rows within their tie group; anything past it
      // sorts after ≥ wantRows rows and can never enter the page.
      def prefix(wantRows: Long): Seq[FileStat] = {
        var acc = 0L
        var i = 0
        while (i < ordered.size && acc < wantRows) { acc += ordered(i).rows; i += 1 }
        if (i > 0) {
          val boundary = tailKey(ordered(i - 1))
          while (i < ordered.size && eqK(headKey(ordered(i)), boundary)) i += 1
        }
        ordered.take(i)
      }
      val listed = fs.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => f.getPath.toString -> f).toMap
      def over(subset: Seq[FileStat]): LogicalPlan =
        rel.copy(relation = fs.copy(location = PageFiles(subset.map(s => listed(s.path))))(
          fs.sparkSession))
      def filtered(cut: LogicalPlan): LogicalPlan = filter.fold(cut)(Filter(_, cut))
      def fills(subset: Seq[FileStat]): Boolean = filter.isEmpty ||
        GraftSqlBridge.frame(fs.sparkSession, filtered(over(subset)))
          .limit(needed.toInt).count() >= needed
      var subset = prefix(needed)
      var want = needed
      while (subset.size < ordered.size && !fills(subset)) {
        want *= 8
        subset = prefix(want)
      }
      Option.when(subset.size < ordered.size) {
        val cut = over(subset)
        bound(fs.sparkSession, filtered(cut), subset, order, needed)
          .fold(cut)(Filter(_, cut))
      }
    }
  }
}
