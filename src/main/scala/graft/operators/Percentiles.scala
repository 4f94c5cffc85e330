package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact percentiles at scale via a value histogram.
  *
  * The reference's exact percentile collects EVERY value of a group
  * into one buffer (`PercentileAggregationFunction.java`'s
  * DoubleArrayList), and Spark's `percentile` aggregate is the same
  * shape with spilling (per-group value→count maps merged on the
  * reducer). Both funnel a group's whole distribution through a
  * single reducer task — with a handful of groups (the common OLAP
  * case: percentile per status flag) that is a handful of tasks
  * merging every partial map, no matter how many executors exist.
  *
  * This operator re-expresses the same EXACT semantics as a
  * distributed histogram:
  *
  *   1. `groupBy(keys :+ value).count()` — map-side combine shrinks
  *      each partition to its distinct (key, value) pairs; the one
  *      real shuffle carries only the global distinct pairs.
  *   2. Counts become cumulative ranks via a two-level prefix sum:
  *      per-(key, value-bucket) offsets, then a running sum inside
  *      each bucket — so the rank pass is parallel across buckets and
  *      no task ever holds more than one bucket's distinct values,
  *      even for a global percentile over a near-unique column.
  *   3. The value at 0-indexed position p is the first value whose
  *      cumulative count reaches p+1, so each requested fraction f
  *      reduces to two conditional `min`s (positions floor(h) and
  *      ceil(h) for h = (n-1)·f) and the standard linear
  *      interpolation — the identical formula Spark's `percentile`
  *      and DuckDB's `quantile_cont` evaluate.
  *
  * Parallelism is bounded by distinct (key, value) pairs instead of
  * group count, and nothing ever holds a full group in memory: at
  * 100 TB a 3-group percentile is thousands of balanced tasks, not 3
  * unbounded buffers. (For truly continuous values with ~no repeats
  * the histogram degenerates to row count — the mergeable quantile
  * sketch, `functions.QuantileSketchAgg`, is the approximate answer
  * there; this is the exact one.)
  */
object Percentiles {

  /** One requested percentile output: fraction in [0, 1], output
    * column name, and the rank convention —
    *  - `nearestRank = false`: linear interpolation between closest
    *    ranks, the `percentile()` / `quantile_cont` formula
    *    (DoubleType output);
    *  - `nearestRank = true`: the ACTUAL data value at 1-indexed rank
    *    max(ceil(f·n), 1) — the classic nearest-rank definition, an
    *    exact answer for sketch-contract aggregations
    *    (PERCENTILEEST's QuantileDigest returns a real long value at
    *    ≤5% rank error; rank error 0 trivially satisfies it). Output
    *    keeps the histogram's DoubleType; callers cast. */
  final case class Spec(fraction: Double, name: String, nearestRank: Boolean)

  /** Exact interpolated percentiles of `valueCol` per `keyCols`
    * group, one output column per (fraction, name) — semantics
    * identical to `percentile(valueCol, array(fractions…))`:
    * nulls ignored, linear interpolation between closest ranks,
    * DoubleType results. Groups whose every value is null (or empty
    * key combinations) simply do not appear, matching groupBy. */
  def exact(df: DataFrame, keyCols: Seq[String], valueCol: String,
      fractions: Seq[(Double, String)],
      countColumn: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "at least one grouping column required")
    histogramAggs(df, keyCols, valueCol,
      fractions.map { case (f, n) => Spec(f, n, nearestRank = false) },
      countColumn, keepNullGroups = false)
  }

  /** The shared histogram plan behind [[exact]] and the PQL percentile
    * routing: one distinct-(key, value) shuffle, one window pass, then
    * every requested [[Spec]] reduces over the same ranked histogram.
    *
    * `keyCols` may be empty (global aggregation → always exactly one
    * output row, aggregate-without-grouping semantics). With
    * `keepNullGroups` a group whose every value is null still appears,
    * carrying null percentiles — the behavior of `percentile()` inside
    * a wider aggregation, needed when this frame is equi-joined back
    * to other aggregation frames on the group keys. */
  def histogramAggs(df: DataFrame, keyCols: Seq[String], valueCol: String,
      specs: Seq[Spec], countColumn: Option[String] = None,
      keepNullGroups: Boolean = false): DataFrame = {
    require(specs.nonEmpty, "at least one percentile spec required")
    specs.foreach { s =>
      require(s.fraction >= 0.0 && s.fraction <= 1.0,
        s"fraction must be in [0, 1], got ${s.fraction}")
    }
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("double")

    // 1. distinct (key, value) histogram — the only full-data shuffle,
    //    map-side combined. With keepNullGroups the null value stays
    //    as a histogram row carrying count 0, so its group survives
    //    while every rank computation ignores it.
    val pre = if (keepNullGroups) df else df.filter(v.isNotNull)
    val hist = pre
      .groupBy(keys :+ v.as("_v"): _*)
      .agg(count(when(col(valueCol).isNotNull, 1)).as("_c"))

    // 2. cumulative and total counts, TWO-LEVEL: per-(key, bucket)
    //    offsets first, then a running sum within each bucket. A
    //    single window per key would funnel a group's ENTIRE histogram
    //    through one task — for a global percentile over a
    //    near-unique int column that is one task sorting ~n rows, a
    //    real 100 TB cliff. Bucketing by floor(_v / 65536) caps every
    //    window task at one bucket's distinct values (≤65536 rows for
    //    any integral column; floor is monotonic, so bucket order IS
    //    value order) and the bucket-offset window itself handles at
    //    most 65536 bucket rows per group. Null histogram rows (the
    //    keepNullGroups count-0 carriers) land in the null bucket,
    //    which sorts first with _bc = 0 — cum stays 0 there and they
    //    never satisfy a >= 1 rank threshold.
    // keys = Nil (global percentile) makes this an unpartitioned
    // window — Spark's WindowExec then logs a "may cause serious
    // performance degradation" warning in bench tails. It is noise
    // here: the window runs over per-BUCKET summaries, never data
    // rows, so the single task sees ≤ distinct(_v)/65536 rows.
    val byKey = Window.partitionBy(keys: _*)
    // the bucket must preserve _v's TOTAL order including NaN: Spark
    // sorts NaN greater than every double, but floor(NaN).cast(long)
    // is 0 — which would rank NaN rows mid-distribution. A NaN bucket
    // (NaN groups with itself and sorts last in Spark) keeps bucket
    // order == value order; ±Inf is handled by the long cast's
    // saturation to Long.Min/MaxValue at the bucket ends.
    val histB = hist.withColumn("_b",
      when(isnan(col("_v")), lit(Double.NaN))
        .otherwise(floor(col("_v") / 65536.0d).cast("double")))
    val bCum = histB
      .groupBy(keys :+ col("_b").as("_jb"): _*)
      .agg(sum(col("_c")).as("_bc"))
      .withColumn("_boff",
        sum(col("_bc")).over(byKey.orderBy(col("_jb").asc_nulls_first)) - col("_bc"))
      .withColumn("_n", sum(col("_bc")).over(byKey))
      .drop("_bc")
    // null-safe equi-join back on (keys, bucket): null group keys and
    // the null bucket are real join keys
    val bCumR = keyCols.foldLeft(bCum)((d, k) => d.withColumnRenamed(k, s"_bk_$k"))
    val joinCond = (keyCols.map(k => histB(k) <=> bCumR(s"_bk_$k")) :+
      (histB("_b") <=> bCumR("_jb"))).reduce(_ && _)
    val ranked = histB.join(bCumR, joinCond)
      .drop("_jb").drop(keyCols.map(k => s"_bk_$k"): _*)
      .withColumn("_cum", col("_boff") +
        sum(col("_c")).over(Window.partitionBy(keys :+ col("_b"): _*).orderBy(col("_v"))))

    // 3. per spec: conditional mins over the ranked histogram.
    //    `_n` is constant within a group: raw inside the conditional
    //    mins (evaluated per histogram row), `max`-wrapped where the
    //    interpolation needs it at the aggregated level.
    val aggs = specs.map {
      case Spec(f, name, false) =>
        val hRow = (col("_n") - 1) * f
        val vLo = min(when(col("_cum") >= floor(hRow) + 1, col("_v")))
        val vHi = min(when(col("_cum") >= ceil(hRow) + 1, col("_v")))
        val hAgg = (max(col("_n")) - 1) * f
        (vLo + (hAgg - floor(hAgg)) * (vHi - vLo)).as(name)
      case Spec(f, name, true) =>
        min(when(col("_cum") >= greatest(ceil(col("_n") * f), lit(1)), col("_v")))
          .as(name)
    } ++ countColumn.map(n => max(col("_n")).as(n)) // non-null row count, free
    if (keyCols.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
    else ranked.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Buckets per narrowing pass of [[rankSelect]]. */
  private final val SelectBuckets = 8192
  /** Bracket row bound under which [[rankSelect]] stops narrowing and
    * runs the final exact histogram (2M rows: one small shuffle + a
    * single sub-second window task per bracket). */
  private final val SelectCap = 2L << 20
  /** Narrowing-iteration backstop: past this the final histogram runs
    * on whatever bracket remains — correct regardless, just larger. */
  private final val SelectMaxIters = 8

  /** Fused first-pass radix depth: sign + exponent + 12 mantissa bits
    * ([[graft.functions.HashOps.radixCell]]) = 4096 cells per octave —
    * real narrowing within any octave with NO min/max pre-pass, which
    * is what lets the stats pass fuse into the first narrowing scan.
    * The depth trades narrowing power against the fused shuffle's size
    * (per map task the emitted cells are ≤ min(task rows, occupied
    * cells)). 4096/octave is the paired-probe winner: a shallower
    * 64/octave pass left a uniform 31-octave value domain with ~780K
    * rows in each top-octave cell at 100M rows, so the loop still ran
    * an equal-width pass and the fusion saved nothing (interleaved A/B
    * reps, OPTIMIZATION_r12.md §7); at 4096/octave the bracket lands
    * under the narrowing cap and the whole query is two scans. The small-input
    * cost (the fused shuffle approaches the data size when task rows <
    * occupied cells) is bounded by one distinct-shaped KB-scale
    * shuffle. */
  private final val FusedBits = 24
  /** Keyed twin of [[FusedBits]]: every group multiplies the fused
    * shuffle's cell rows, so keyed calls run one step shallower
    * (256 cells/octave) — still loop-free on the 100M heavy shapes,
    * measurably cheaper on small near-unique inputs (paired probe). */
  private final val FusedBitsKeyed = 20
  /** Driver bounds on the fused pass's collected cell rows (global /
    * keyed). Realistic data occupies thousands of cells; hitting the
    * bound (values spread over ≥64 octaves per group, or a
    * high-cardinality group key) retreats to the dedicated stats
    * pass. */
  private final val FusedGlobalCellBound = (1 << 18) + 1
  private final val FusedKeyedCellBound = (1 << 19) + 1

  /** GLOBAL exact percentiles by iterative rank-narrowing selection —
    * the NEAR-UNIQUE-column answer where [[histogramAggs]]'s distinct
    * histogram degenerates to the data itself (a ~10⁸-key shuffle +
    * window for one global percentile over a hash-like column; the
    * reference never hits this shape because its exact percentile
    * buffers per-segment and merges, which also breaks down at 10⁸).
    *
    * Semantics are identical to `percentile(v, array(f…))` /
    * `quantile_cont`: nulls ignored, NaN sorts greatest, linear
    * interpolation between closest ranks. The plan is quickselect
    * re-expressed as Spark scans:
    *
    *   1. one FUSED stats + first-narrowing pass (r12): aggregate
    *      (count, min, max) per fixed monotone RADIX cell
    *      ([[graft.functions.HashOps.radixCell]] — top bits of the
    *      sign-corrected IEEE pattern, so cell order is value order
    *      with no min/max pre-pass). Group count / n / NaN count /
    *      finite min/max and the first ~[[SelectBuckets]]× candidate
    *      shrink all come out of this single scan (the pre-r12 flow
    *      paid a separate stats scan first);
    *   2. further narrowing passes if needed: bucket the bracket's
    *      value range into [[SelectBuckets]] equal-width cells and
    *      aggregate (count, min, max) per cell — `floor((v-lo)/w·B)`
    *      is a MONOTONE function of v (positive-constant IEEE ops
    *      preserve order), so per-cell counts are exact rank
    *      arithmetic, and the next bracket's bounds are the cells'
    *      ACTUAL min/max values, never float-reconstructed boundaries;
    *   3. one final pass: exact value histogram of the remaining
    *      bracket rows (`groupBy(value).count` + per-bracket running
    *      sum), from which every requested order statistic reads off.
    *
    * Every pass is a full scan with a tiny aggregate — no shuffle ever
    * carries more than bracket-distinct values, nothing sorts more
    * than one bracket, and the driver holds ≤ `SelectBuckets` cells.
    * Typical cost: 2 scans total, vs one full-data shuffle + window.
    *
    * EAGER: runs its passes at call time and returns the 1-row result
    * frame (callers timing it must rebuild per repetition). Ties,
    * skew, and massive duplicate values only stall the geometric
    * shrink, never correctness — the final histogram is exact on any
    * bracket, and a rank not covered by its bracket (impossible by
    * construction) throws rather than returning a wrong value. */
  def rankSelect(df: DataFrame, valueCol: String, specs: Seq[Spec],
      cap: Long = SelectCap, buckets: Int = SelectBuckets): DataFrame =
    rankSelectKeyed(df, Nil, valueCol, specs, cap, buckets)

  /** Cap on the group count [[rankSelectKeyed]] narrows itself; past
    * it the call transparently answers through [[histogramAggs]] —
    * many groups bound the per-group distinct set, which is exactly
    * the histogram's good regime (g1 ships at 1.76x there), while the
    * few-group near-unique shape is where narrowing wins (probed at
    * 100M rows x 2 groups: 8.4 s vs 38.5 s for the grouped
    * histogram). */
  private final val SelectMaxGroups = 64

  /** Past [[SelectMaxGroups]] the histogram answers UNCONDITIONALLY —
    * including on near-unique columns where its shuffle state is the
    * data itself. That regime was probed at 100M rows × 100 groups
    * (round 10, recorded in SURVEY.md): the chunked-narrowing
    * alternative (⌈G/64⌉ batches × ~4-5 full counting scans each)
    * costs 215 s where the "degenerate" histogram answers in 21.6 s,
    * values identical — the histogram's worst case is ONE shuffle
    * bounded by the data, which a multi-batch scan loop can never
    * undercut (state ≤ data by construction, so the shuffle never
    * exceeds ~1 scan-equivalent of traffic). The fused stats+cell
    * collect is head-truncated at SelectMaxGroups groups' worth of
    * cell rows, so a million-group key never materializes a million
    * groups' rows on the driver just to learn it belongs to the
    * histogram. */
  private final val StatsCollectBound = SelectMaxGroups + 1

  /** GROUPED exact percentiles by rank-narrowing selection — the
    * [[rankSelect]] algorithm with the group key folded into the cell
    * identity, so ALL groups narrow in the SAME ~3 counting scans
    * (a per-group loop would pay G x 3 scans; the grouped histogram
    * degenerates to the data itself on near-unique columns).
    * `keyCols = Nil` IS the global [[rankSelect]] — one group, no key
    * predicate — so the global spec battery (ties, skew,
    * ulp-adjacent, NaN/Inf) pins this code path too.
    *
    * Per-pass bucket width scales down with live group count
    * (`buckets / G`, floor 256) so the driver's collected cell count
    * stays bounded by ~(groups x ranks) x (buckets / G) regardless of
    * G. Groups discovered in the stats pass; more than
    * [[SelectMaxGroups]] of them (or a group key the driver cannot
    * re-embed as a typed literal) falls back to [[histogramAggs]] —
    * same exact semantics, different plan. All-null groups keep their
    * row with null percentiles (the keepNullGroups join contract).
    *
    * EAGER like [[rankSelect]]: passes run at call time; the returned
    * frame is a local G-row result that broadcast-joins back to other
    * aggregation frames on the group keys. */
  def rankSelectKeyed(df: DataFrame, keyCols: Seq[String], valueCol: String,
      specs: Seq[Spec], cap: Long = SelectCap,
      buckets: Int = SelectBuckets): DataFrame = {
    require(specs.nonEmpty, "at least one percentile spec required")
    require(cap > 0 && buckets > 1, s"bad cap=$cap buckets=$buckets")
    specs.foreach { s =>
      require(s.fraction >= 0.0 && s.fraction <= 1.0,
        s"fraction must be in [0, 1], got ${s.fraction}")
    }
    val spark = df.sparkSession
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val keyFields = keyCols.map(k => df.schema.fields
      .find(_.name.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(s"no such key column: $k")))
    val keys = keyFields.map(f => col(f.name))
    val outSchema = StructType(
      keyFields.map(f => StructField(f.name, f.dataType, nullable = true)) ++
        specs.map(s => StructField(s.name, DoubleType, nullable = true)))

    val base = df.select(keys :+ col(valueCol).cast("double").as("_v"): _*)
    val nn = base.filter(col("_v").isNotNull)

    // ---- FUSED stats + first-narrowing pass (r12): ONE scan computes,
    // per (group, radix cell), the exact count and the ACTUAL min/max
    // inside the cell. The radix cell (top bits of the sign-corrected
    // IEEE bit pattern, [[graft.functions.HashOps.radixCell]]) is a
    // FIXED monotone bucketing — cell order is value order with no
    // min/max pre-pass — so the separate stats scan the old flow paid
    // is gone: group count / n / nNaN / finite min / finite max all
    // derive from the same cell rows that seed the first narrowing
    // (3 full scans → 2 on the common narrow-once shapes; the grouped
    // near-unique 1B-row query saves a full counting scan).
    //
    // The collect stays driver-bounded (head-truncated at the cell
    // budget); a truncated result retreats to the classic dedicated
    // stats pass, so adversarial octave spreads and high-cardinality
    // keys cost one extra scan, never driver memory. (The truncated
    // fused agg's (key, cell)-grained shuffle is bounded by distinct
    // (key, value) — never more than the histogram fallback's own
    // shuffle.)
    // First-pass cell depth: 24 bits = sign + exponent + 12 mantissa
    // bits, i.e. 4096 cells per octave — equal-width-quality narrowing
    // WITHIN any octave regardless of the data's range. (A shallower
    // prefix allocates resolution in BIT space, not value space: 13
    // bits over values spanning 31 octaves is ~2 cells per octave —
    // measured at 100M rows, such a fused pass narrowed nothing and
    // just added a groupBy-shaped scan.) The non-empty cell count is
    // data-limited: ≤ distinct values, and ≤ 4096 × occupied octaves
    // per group — realistic data spans a few octaves, so thousands of
    // cells. A caller-passed `buckets` below 256 is respected (specs
    // pass 8/16 to force multi-pass narrowing through the loop).
    val fusedBits =
      if (buckets < 256)
        63 - java.lang.Long.numberOfLeadingZeros(math.max(buckets, 2).toLong)
      else if (keyCols.isEmpty) FusedBits
      else FusedBitsKeyed
    val cellOf =
      when(col("_v").isNull, lit(-2L))
        .when(isnan(col("_v")), lit(-1L))
        .otherwise(graft.functions.GraftFunctions.radixCell(col("_v"), fusedBits))
    val fusedAgg = base
      .groupBy(keys :+ cellOf.as("_cell"): _*)
      .agg(count(lit(1)).as("_c"),
        min(when(!isnan(col("_v")), col("_v"))).as("_cmn"),
        max(when(!isnan(col("_v")), col("_v"))).as("_cmx"))
    // Driver bound: head() truncates at the cell budget. An untruncated
    // result carries exact group stats AND the first narrowing; a
    // truncated one (adversarial octave spread, or a high-cardinality
    // group key) falls back to the classic dedicated stats pass below —
    // one extra scan, correctness unaffected. head()'s incremental take
    // adds 2-3 tiny post-shuffle jobs; a coalesce(1) to avoid them was
    // probed at 100M rows and REJECTED — the single-threaded final
    // aggregation of every partial's cells cost ~0.3 s, more than the
    // take ladder ever does.
    val fusedBound =
      if (keyCols.isEmpty) FusedGlobalCellBound else FusedKeyedCellBound
    val fusedRows = fusedAgg.head(fusedBound)
    val fusedOk = fusedRows.length < fusedBound

    final case class CellRow(cell: Long, c: Long, mn: Double, mx: Double)
    final case class GStat(keyVals: IndexedSeq[Any], n: Long, nNaN: Long,
        mn: Double, mx: Double, cells: Seq[CellRow])
    val kLen = keyCols.length
    // Map keys must compare by VALUE: a BinaryType group key comes back
    // as Array[Byte], whose equals/hashCode are reference identity — so
    // one real group's cell rows would split into pseudo-groups whose
    // identical-literal key predicates all match the same rows,
    // understating `below` counts and corrupting ranks. Wrapping arrays
    // in ArraySeq gives element-wise equality matching SQL binary
    // equality; the ORIGINAL value is kept for output rows and typed
    // literals.
    def normKeyVal(v: Any): Any = v match {
      case a: Array[_] => scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
      case other => other
    }
    val statRows: Seq[GStat] = if (fusedOk) {
      // reassemble per-group stats + cells (first-appearance order —
      // the same stability class as the old stats pass's head() order)
      val byGroup = new scala.collection.mutable.LinkedHashMap[
        IndexedSeq[Any],
        (IndexedSeq[Any], scala.collection.mutable.ArrayBuffer[CellRow])]()
      fusedRows.foreach { r =>
        val orig: IndexedSeq[Any] = (0 until kLen).map(r.get)
        val buf = byGroup.getOrElseUpdate(orig.map(normKeyVal),
          (orig, new scala.collection.mutable.ArrayBuffer[CellRow]()))._2
        buf += CellRow(r.getLong(kLen), r.getLong(kLen + 1),
          if (r.isNullAt(kLen + 2)) Double.NaN else r.getDouble(kLen + 2),
          if (r.isNullAt(kLen + 3)) Double.NaN else r.getDouble(kLen + 3))
      }
      // global aggregation over EMPTY input still yields one all-null
      // group (aggregate-without-grouping semantics, as a global stats
      // pass's single agg row would)
      if (byGroup.isEmpty && keyCols.isEmpty)
        byGroup(IndexedSeq.empty[Any]) = (IndexedSeq.empty[Any],
          new scala.collection.mutable.ArrayBuffer[CellRow]())
      byGroup.valuesIterator.toSeq.map { case (key, cellsAll) =>
        val nonNull = cellsAll.filter(_.cell >= -1L)
        val radix = cellsAll.filter(_.cell >= 0L).sortBy(_.cell)
        GStat(key,
          nonNull.map(_.c).sum,
          cellsAll.find(_.cell == -1L).map(_.c).getOrElse(0L),
          if (radix.isEmpty) Double.NaN else radix.map(_.mn).min,
          if (radix.isEmpty) Double.NaN else radix.map(_.mx).max,
          radix.toSeq)
      }
    } else {
      // fallback stats pass (truncated fused collect): one row per
      // group, head-truncated — a high-cardinality key must not flood
      // the driver just to learn it belongs to the histogram fallback.
      // Groups carry NO cells, so their brackets start at [mn, mx] and
      // the narrowing loop below does the work, exactly the pre-fused
      // flow.
      base.groupBy(keys: _*).agg(
        count(col("_v")).as("_n"),
        sum(when(isnan(col("_v")), 1L).otherwise(0L)).as("_nan"),
        min(when(!isnan(col("_v")), col("_v"))).as("_mn"),
        max(when(!isnan(col("_v")), col("_v"))).as("_mx"))
        .head(StatsCollectBound).toSeq.map { r =>
          GStat((0 until kLen).map(r.get),
            r.getLong(kLen),
            if (r.isNullAt(kLen + 1)) 0L else r.getLong(kLen + 1),
            if (r.isNullAt(kLen + 2)) Double.NaN else r.getDouble(kLen + 2),
            if (r.isNullAt(kLen + 3)) Double.NaN else r.getDouble(kLen + 3),
            Nil)
        }
    }
    if (statRows.isEmpty && keyCols.nonEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)

    // Group-count ceiling FIRST (before any typed-literal work): a
    // high-cardinality key that stays under the fused cell bound can
    // reach ~2^19 collected groups; building literals for all of them
    // on the driver just to discard them was pure waste (ADVICE r12).
    if (statRows.length > SelectMaxGroups) {
      require(keyCols.nonEmpty, "global stats must produce exactly one group")
      return histogramAggs(df, keyCols, valueCol, specs, keepNullGroups = true)
        .select(keyFields.map(f => col(f.name)) ++ specs.map(s => col(s.name)): _*)
    }
    // driver-embeddable typed key literals; any failure -> histogram
    def typedLit(v: Any, i: Int): Option[Column] =
      try Some(org.apache.spark.sql.GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v, keyFields(i).dataType)))
      catch { case scala.util.control.NonFatal(_) => None }
    val groupLits: Seq[Option[Seq[Column]]] = statRows.map { g =>
      val ls = keyCols.indices.map(i => typedLit(g.keyVals(i), i))
      if (ls.forall(_.isDefined)) Some(ls.map(_.get)) else None
    }
    if (groupLits.exists(_.isEmpty)) {
      // Unconditional histogram on a key the driver cannot re-embed as
      // a typed literal (the group ceiling returned above): exact
      // either way, different plan. Even the histogram's degenerate state
      // (near-unique values × many groups ⇒ state ≈ the data) is ONE
      // data-bounded shuffle, which the r10 probe measured 10× FASTER
      // than chunking groups through multi-scan narrowing batches
      // (215 s vs 21.6 s at 100M rows × 100 groups, values identical
      // — see StatsCollectBound's scaladoc).
      require(keyCols.nonEmpty, "global stats must produce exactly one group")
      return histogramAggs(df, keyCols, valueCol, specs, keepNullGroups = true)
        .select(keyFields.map(f => col(f.name)) ++ specs.map(s => col(s.name)): _*)
    }

    // per-group state
    final case class G(idx: Int, keyVals: Seq[Any], pred: Column,
        n: Long, nNaN: Long, mn: Double, mx: Double) {
      def nFin: Long = n - nNaN
    }
    val groups: Seq[G] = statRows.zipWithIndex.map { case (gs, gi) =>
      val pred = if (keyCols.isEmpty) lit(true)
        else keyCols.indices.map(i => keys(i) <=> groupLits(gi).get(i))
          .reduce(_ && _)
      G(gi, gs.keyVals, pred, gs.n, gs.nNaN, gs.mn, gs.mx)
    }

    // 0-indexed ranks each spec needs within one group of n rows
    def ranksOf(s: Spec, n: Long): Seq[Long] =
      if (s.nearestRank) Seq(math.max(math.ceil(s.fraction * n).toLong, 1L) - 1)
      else {
        val h = (n - 1) * s.fraction
        Seq(math.floor(h).toLong, math.ceil(h).toLong)
      }
    // (group idx, rank) -> value
    val valueAt = scala.collection.mutable.Map[(Int, Long), Double]()
    val groupRanks: Map[Int, Seq[Long]] = groups.map { g =>
      // an empty group (all-null values) outputs nulls — no ranks to
      // chase (ranksOf at n = 0 would go negative)
      val all = if (g.n == 0) Nil
        else specs.flatMap(ranksOf(_, g.n)).distinct.sorted
      all.filter(_ >= g.nFin).foreach(k => valueAt((g.idx, k)) = Double.NaN)
      g.idx -> all.filter(_ < g.nFin)
    }.toMap

    // one bracket: its group, [lo, hi] ACTUAL value bounds, exact
    // count of the group's finite rows strictly below lo, row count
    // inside, and the ranks it must answer
    final case class Bracket(g: Int, lo: Double, hi: Double, below: Long,
        rows: Long, ranks: Seq[Long])

    // merge overlapping/adjacent brackets WITHIN a group (sorted by
    // (group, lo); exact counts make overlap detection arithmetic)
    def mergeBrackets(narrowed: Seq[Bracket]): Seq[Bracket] =
      narrowed.sortBy(b => (b.g, b.lo, b.hi))
        .foldLeft(Vector.empty[Bracket]) { (acc, b) =>
          acc.lastOption match {
            case Some(p) if p.g == b.g && b.lo <= p.hi =>
              val lo = math.min(p.lo, b.lo)
              val hi = math.max(p.hi, b.hi)
              val below = math.min(p.below, b.below)
              val rows = math.max(p.below + p.rows, b.below + b.rows) - below
              acc.init :+ Bracket(b.g, lo, hi, below, rows,
                (p.ranks ++ b.ranks).distinct.sorted)
            case _ => acc :+ b
          }
        }

    // Seed the brackets from the fused pass's radix cells: the first
    // narrowing already happened inside the stats scan, so every group
    // starts at its ranks' ±1-cell runs instead of the whole [mn, mx]
    // — including groups too small for the loop below, whose
    // final-pass brackets shrink for free. Cell counts are exact and
    // cell order is value order (monotone radix map), so this is the
    // loop body's rank arithmetic applied to pre-collected cells.
    var brackets: Seq[Bracket] = mergeBrackets(groups.flatMap { g =>
      val rs = groupRanks(g.idx)
      val cells = statRows(g.idx).cells
      if (rs.isEmpty) Nil
      else if (cells.isEmpty)
        // fallback-stats group (no fused cells): start at the full
        // range and let the loop narrow, the pre-fused flow
        Seq(Bracket(g.idx, g.mn, g.mx, 0L, g.nFin, rs))
      else {
        val counts = cells.map(_.c)
        val cum = counts.scanLeft(0L)(_ + _)
        rs.map { k =>
          val ci = cum.indexWhere(_ > k) - 1 // cell holding the rank
          require(ci >= 0 && ci < cells.length,
            s"rank $k escaped the fused cells (group ${g.idx}) — bug")
          val a = math.max(ci - 1, 0)
          val z = math.min(ci + 1, cells.length - 1)
          Bracket(g.idx, cells(a).mn, cells(z).mx, cum(a),
            (a to z).map(counts).sum, Seq(k))
        }
      }
    })
    val predOf: Map[Int, Column] = groups.map(g => g.idx -> g.pred).toMap
    def canBucket(b: Bracket): Boolean =
      java.lang.Double.isFinite(b.lo) && java.lang.Double.isFinite(b.hi) &&
        b.hi - b.lo > 0 && java.lang.Double.isFinite(b.hi - b.lo)

    // Scale-adaptive narrowing floor (r12). The final exact histogram
    // costs a shuffle of the bracket's distinct values plus an ordered
    // window funneled through ONE task per bracket, while one more
    // narrowing pass costs a full counting scan — so the break-even
    // depends on TOTAL size, not just the bracket. At small totals the
    // extra scan is far cheaper than a big final histogram (measured
    // sf0.1, 600K near-unique rows: no-narrowing final histogram
    // ~3.3 s vs narrow-once-then-tiny-final ~0.9 s); at large totals
    // the scan dominates and the static cap already stops narrowing
    // (totals ≥ 128M rows leave effCap = cap, so the recorded
    // 100M/1B-row behavior is bit-identical). Callers passing a tiny
    // cap to force multi-pass narrowing keep it via the min.
    val totalRows = groups.map(_.nFin).sum
    val effCap = math.min(cap, math.max(totalRows / 64L, 65536L))
    def needsNarrow(b: Bracket): Boolean =
      b.rows > effCap && b.hi > b.lo && canBucket(b)
    var iter = if (fusedOk) 1 else 0 // the fused pass was narrowing pass 1
    var progress = true
    while (progress && iter < SelectMaxIters && brackets.exists(needsNarrow)) {
      iter += 1
      val active = brackets.filter(needsNarrow)
      val done = brackets.filterNot(needsNarrow)
      // bucket width shrinks with live group count so the driver's
      // collected cells stay ~buckets x ranks regardless of G
      val liveGroups = active.map(_.g).distinct.size
      // per-pass floor of min(buckets, 256): the 256 floor keeps the
      // narrowing factor useful when many groups split the budget,
      // but must not silently override a CALLER-passed buckets below
      // 256 (specs pass 8/16 to force multi-pass narrowing)
      val B = math.max(math.min(buckets, 256),
        buckets / math.max(liveGroups, 1))
      // combined cell id: bracketIdx * B + clamp(floor((v-lo)/w*B)),
      // each bracket guarded by its group's key predicate (group
      // predicates are disjoint, brackets within a group disjoint)
      val cell = active.zipWithIndex.foldLeft(lit(null).cast("long")) {
        case (acc, (b, j)) =>
          val w = (b.hi - b.lo) / B
          val raw = floor((col("_v") - lit(b.lo)) / lit(w)).cast("long")
          when(predOf(b.g) && col("_v") >= lit(b.lo) && col("_v") <= lit(b.hi),
            lit(j.toLong * B) + least(greatest(raw, lit(0L)), lit(B - 1L)))
            .otherwise(acc)
      }
      val cells = nn.filter(!isnan(col("_v")))
        .select(cell.as("_cell"), col("_v"))
        .filter(col("_cell").isNotNull)
        .groupBy(col("_cell"))
        .agg(count(lit(1)).as("_c"), min(col("_v")).as("_cmn"),
          max(col("_v")).as("_cmx"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      progress = false
      val narrowed = active.zipWithIndex.flatMap { case (b, j) =>
        val ids = (0 until B).map(i => j.toLong * B + i).filter(cells.contains)
        val counts = ids.map(cells(_)._1)
        val cum = counts.scanLeft(0L)(_ + _)
        // per rank: the cell run [i-1, i+1] around the cell holding
        // the rank (widening costs ~2 cells and removes any boundary
        // sensitivity from the next pass's >=/<= predicates)
        b.ranks.map { k =>
          val local = k - b.below // 0-indexed within the bracket
          val ci = cum.indexWhere(_ > local) - 1 // cell holding the rank
          require(ci >= 0 && ci < ids.length,
            s"rank $k escaped its bracket [${b.lo}, ${b.hi}] (group ${b.g}) — bug")
          val a = math.max(ci - 1, 0)
          val z = math.min(ci + 1, ids.length - 1)
          val rows = (a to z).map(i => counts(i)).sum
          if (rows < b.rows) progress = true
          Bracket(b.g, cells(ids(a))._2, cells(ids(z))._3,
            b.below + cum(a), rows, Seq(k))
        }
      }
      brackets = (done ++ mergeBrackets(narrowed)).sortBy(b => (b.g, b.lo))
    }

    // final pass: exact value histogram inside the brackets, running
    // sum per bracket, order statistics read off at their local ranks
    val point = brackets.filter(b => b.lo == b.hi) // collapsed: all ties
    point.foreach(b => b.ranks.foreach(k => valueAt((b.g, k)) = b.lo))
    val need = brackets.filterNot(b => b.lo == b.hi)
    if (need.nonEmpty) {
      val bid = need.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (b, j)) =>
          when(predOf(b.g) && col("_v") >= lit(b.lo) && col("_v") <= lit(b.hi),
            lit(j)).otherwise(acc)
      }
      val hist = nn.filter(!isnan(col("_v")))
        .select(bid.as("_bid"), col("_v"))
        .filter(col("_bid").isNotNull)
        .groupBy(col("_bid"), col("_v")).agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum(col("_c")).over(
          Window.partitionBy(col("_bid")).orderBy(col("_v"))))
      val aggsNeeded = need.zipWithIndex.flatMap { case (b, j) =>
        b.ranks.map { k =>
          ((b.g, k), min(when(col("_bid") === j &&
            col("_cum") >= k + 1 - b.below, col("_v"))).as(s"_g${b.g}_r$k"))
        }
      }
      val row = hist.agg(aggsNeeded.head._2, aggsNeeded.tail.map(_._2): _*).head()
      aggsNeeded.map(_._1).zipWithIndex.foreach { case (gk, i) =>
        require(!row.isNullAt(i),
          s"rank ${gk._2} (group ${gk._1}) not covered by its final bracket — bug")
        valueAt(gk) = row.getDouble(i)
      }
    }

    // ---- assemble: one local row per group ----
    val rows: Seq[org.apache.spark.sql.Row] = groups.map { g =>
      val specVals: Seq[Any] = specs.map { s =>
        if (g.n == 0) null
        else if (s.nearestRank) Double.box(valueAt((g.idx, ranksOf(s, g.n).head)))
        else {
          val h = (g.n - 1) * s.fraction
          val vLo = valueAt((g.idx, math.floor(h).toLong))
          val vHi = valueAt((g.idx, math.ceil(h).toLong))
          Double.box(vLo + (h - math.floor(h)) * (vHi - vLo))
        }
      }
      org.apache.spark.sql.Row(g.keyVals ++ specVals: _*)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, outSchema)
  }
}
