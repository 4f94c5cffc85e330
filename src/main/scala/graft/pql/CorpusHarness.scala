package graft.pql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.ArrayType

/** Result-level execution of the 10K golden corpus: each line's PQL
  * runs through the graft front-end ([[Pql.toDataFrame]]) and each
  * paired hsql runs through Spark SQL over the H2-style flattened
  * view — two independent parse/compile paths over the same
  * synthesized data — then the results are compared with the
  * reference harness's own semantics
  * (`ClusterIntegrationTestUtils.java:506-806`):
  *
  *  - aggregation-only: one hsql per aggregation function; each value
  *    fuzzy-compared; a NULL H2 value means nothing matched, so the
  *    PQL side must be null (or 0 for COUNT) — lines 540-573;
  *  - group-by: one hsql per aggregation returning (keys..., value);
  *    every PQL group (after TOP trimming) must exist in the H2 group
  *    map with a fuzzy-equal value — containment, because TOP trims
  *    the engine side — lines 576-664;
  *  - selection: every PQL row must appear in the H2 row set
  *    (containment: the hsql carries LIMIT 10000, the PQL its own
  *    smaller LIMIT); multi-value cells compare as null-padded-to-5,
  *    sorted element lists, mirroring the `__MV0..4` flattening —
  *    lines 672-800;
  *  - exhaustion guard: if the H2 side hits 10,000 rows the reference
  *    skips the comparison (lines 597,631,759) — kept for fidelity,
  *    though at our synthesized row count it never triggers, so every
  *    comparison is real.
  *
  * Divergence from the reference: fuzzy tolerance. The reference uses
  * `DoubleMath.fuzzyEquals(a, b, 1.0)` (line 565) because Pinot and H2
  * aggregate in different numeric engines; here both paths run on
  * Spark over identical data, so we hold a far tighter relative 1e-9 —
  * a real compilation bug cannot hide inside a ±1.0 window.
  *
  * Harness code, driver-side by design: every collect is bounded by
  * the reference's own MAX_NUM_ROWS_TO_COMPARE = 10,000.
  */
object CorpusHarness {

  private val MaxRowsToCompare = 10000

  /** Synthesized OnTime fixture: the MV table (for PQL) and its
    * H2-style flat twin (for hsqls, registered as temp view `mytable`).
    * Corpus lines are not part of it: replay loads them through
    * [[OnTimeCorpus.corpus]] ([[corpusLines]]). */
  final case class Fixture(mv: DataFrame, flat: DataFrame)

  @volatile private var cached: (SparkSession, Int, Fixture) = null

  /** Build (or reuse) the fixture: synthesize `numRows` deterministic
    * rows of the in-code schema ([[OnTimeCorpus.Schema]]) from
    * [[OnTimeCorpus.fixturePools]] and cache both views. Needs no file:
    * the corpus, where present, only adds its mined literals to the
    * pools. Keyed on (session, numRows) so Verify and tests share one
    * build. */
  def fixture(spark: SparkSession, numRows: Int = 8000): Fixture = {
    val c = cached
    if (c != null && (c._1 eq spark) && c._2 == numRows) return c._3
    synchronized {
      val c2 = cached
      if (c2 != null && (c2._1 eq spark) && c2._2 == numRows) return c2._3
      // round-trip the synthesized frame through parquet before
      // caching: the synthesis plan embeds the literal pools (~1.7 MB
      // of task binary with the corpus-mined ones), and every
      // micro-query task would otherwise ship them — with thousands of
      // harness statements that serialization dominated wall time
      // ("task of very large size" warnings). Re-read, each plan is a
      // plain 4-file scan.
      OnTimeCorpus.synthesize(spark, OnTimeCorpus.Schema, OnTimeCorpus.fixturePools(), numRows)
        .write.mode("overwrite").parquet(segDir(numRows))
      val mv = spark.read.parquet(segDir(numRows)).cache()
      val flat = OnTimeCorpus.flatten(mv).cache()
      flat.createOrReplaceTempView("mytable")
      flat.count() // materialize both caches once
      val f = Fixture(mv, flat)
      cached = (spark, numRows, f)
      f
    }
  }

  /** HYBRID-table mode — the reference's
    * `HybridClusterIntegrationTest` dimension (offline segments +
    * realtime consumption of the SAME data, stitched by the broker's
    * time boundary): the PQL side answers from
    * [[graft.streaming.HybridTable.view]] over an offline slice
    * (rows at or below the median `DaysSinceEpoch` — the "pushed
    * segments") and a realtime side holding the FULL row stream (the
    * reference test feeds every Avro row to Kafka, so the sides
    * overlap on the whole offline range). The boundary stitch must
    * answer each row EXACTLY once — any leak or double-count breaks
    * aggregations against the flat twin, which still reads the plain
    * full table. Cached per (session, numRows) like the base fixture. */
  @volatile private var cachedHybrid: (SparkSession, Int, DataFrame) = null

  def hybridView(spark: SparkSession, numRows: Int = 8000): DataFrame = {
    val c = cachedHybrid
    if (c != null && (c._1 eq spark) && c._2 == numRows) return c._3
    synchronized {
      val c2 = cachedHybrid
      if (c2 != null && (c2._1 eq spark) && c2._2 == numRows) return c2._3
      val fx = fixture(spark, numRows)
      val timeCol = "DaysSinceEpoch"
      val cut = fx.mv.selectExpr(s"percentile($timeCol, 0.5)").head().getDouble(0)
      val offline = fx.mv.filter(org.apache.spark.sql.functions.col(timeCol) <= cut)
      val view = graft.streaming.HybridTable.view(offline, fx.mv, timeCol).cache()
      view.count() // materialize once; micro-queries then scan the cache
      cachedHybrid = (spark, numRows, view)
      view
    }
  }

  // ---- star-tree routed mode --------------------------------------------

  /** Parquet dump backing the fixture — the "segment directory" the
    * star-tree registry keys routing on. */
  def segDir(numRows: Int = 8000): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_corpus_fx_$numRows"

  /** One mined star-tree: the dimensionsSplitOrder + metric columns a
    * reference table config would declare for this workload, plus how
    * many corpus lines the mining pass assigned to it. */
  final case class TreeSpec(dims: Seq[String], metrics: Seq[String], minedCover: Int) {
    def covers(need: (Set[String], Set[String])): Boolean =
      need._1.subsetOf(dims.toSet) && need._2.subsetOf(metrics.toSet)
  }

  private def exprCols(e: Pql.Expr): Set[String] = e match {
    case Pql.Ident(n) => Set(n)
    case Pql.Func(_, args) => args.flatMap(exprCols).toSet
    case _ => Set.empty
  }

  private def predCols(p: Pql.Pred): Set[String] = p match {
    case Pql.Cmp(e, _, v) => exprCols(e) ++ exprCols(v)
    case Pql.Between(e, lo, hi) => exprCols(e) ++ exprCols(lo) ++ exprCols(hi)
    case Pql.In(e, vs, _) => exprCols(e) ++ vs.flatMap(exprCols)
    case Pql.IsNull(e, _) => exprCols(e)
    case Pql.RegexpLike(e, _) => exprCols(e)
    case Pql.AndP(ps) => ps.flatMap(predCols).toSet
    case Pql.OrP(ps) => ps.flatMap(predCols).toSet
  }

  private val TreeAggs = Set("count", "sum", "min", "max", "avg")

  /** (dims-needed, metrics-needed) when the line is a star-tree-
    * routable group-by aggregation: non-DISTINCT, no HAVING, grouped
    * on plain scalar columns, every select item a plain
    * COUNT/SUM/MIN/MAX/AVG over a numeric column (or COUNT(*)), and
    * every WHERE-referenced column scalar. Mirrors exactly what
    * [[graft.plans.StarTreeRoutingRule]] can rewrite, so prediction
    * and plan behavior can be equated in tests. */
  private def routableNeed(q: Pql.Query, scalarCols: Set[String],
      numericCols: Set[String]): Option[(Set[String], Set[String])] = {
    if (q.distinct || q.having.nonEmpty) return None
    // GLOBAL aggregations (no GROUP BY) route too — the rule keeps the
    // Aggregate node and merges the all-stars slice — EXCEPT the bare
    // unfiltered COUNT(*), which the PQL front-end answers from
    // parquet footer metadata before any plan exists (the
    // MetadataBasedAggregationOperator path outranks the tree)
    if (q.groupBy.isEmpty && q.where.isEmpty &&
        q.select == Seq(Pql.Func("count", Seq(Pql.Star)))) return None
    // aggregation mode only: a global query with no aggregation at all
    // is a selection and never reaches the routing rule's shape
    if (q.groupBy.isEmpty && !q.select.exists {
        case Pql.Func(f, _) => TreeAggs.contains(f.toLowerCase)
        case _ => false
      }) return None
    val gcols = q.groupBy.map {
      case Pql.Ident(n) => n
      case _ => return None
    }
    var metrics = Set.empty[String]
    q.select.foreach {
      case Pql.Ident(n) if gcols.contains(n) => ()
      case Pql.Func(f, args) if TreeAggs.contains(f.toLowerCase) => args match {
        case Seq(Pql.Star) if f.toLowerCase == "count" => ()
        case Seq(Pql.Ident(m)) => metrics += m
        case _ => return None
      }
      case _ => return None
    }
    val dims = gcols.toSet ++ q.where.map(predCols).getOrElse(Set.empty)
    if (!dims.subsetOf(scalarCols)) return None
    if (!metrics.subsetOf(numericCols)) return None
    if (metrics.exists(dims.contains)) return None
    Some((dims, metrics))
  }

  private def colSets(fx: Fixture): (Set[String], Set[String]) = {
    val fields = fx.mv.schema.fields
    // DecimalType is excluded to mirror the rule exactly: rollupExpr/
    // reAggExpr refuse AVG over decimals (re-summing widens precision)
    (fields.filterNot(_.dataType.isInstanceOf[ArrayType]).map(_.name).toSet,
      fields.filter(f => f.dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
        .map(_.name).toSet)
  }

  private def minedNeeds(fx: Fixture,
      lines: Seq[OnTimeCorpus.Line]): Seq[(Int, (Set[String], Set[String]))] = {
    val (scalarCols, numericCols) = colSets(fx)
    lines.flatMap { l =>
      (try Some(Pql.parse(l.pql))
      catch { case _: IllegalArgumentException => None })
        .flatMap(routableNeed(_, scalarCols, numericCols))
        .map(l.id -> _)
    }
  }

  /** The workload star-trees are mined for: the generated mode-A pool
    * that `q_querygen_duck` draws from (its first lines are the
    * `q_querygen_*` samples), plus every corpus line where the corpus
    * file exists. */
  private def miningWorkload(): Seq[OnTimeCorpus.Line] =
    QueryGen.lines(graft.queries.CorpusQueries.GenPoolSize) ++
      (if (OnTimeCorpus.corpusPresent) OnTimeCorpus.corpus else Nil)

  /** Mine star-tree configs for the harness workload
    * ([[miningWorkload]]): greedy set cover — each round grows a
    * dimension set (preferring the column that completes the most
    * one-dim-short lines, then the most-demanded column), takes every
    * still-uncovered line it can answer, and declares the union of
    * their aggregation columns as the tree's metrics. Deterministic:
    * ties break on column name, the workload and schema are fixed
    * inputs. The generator and the corpus both draw columns uniformly
    * from an ~80-column schema, so no small tree family covers
    * everything — the point is a sizable, *predictable* routed subset
    * whose answers must be bit-identical to the scan plans. */
  def starTreeSpecs(fx: Fixture, maxTrees: Int = 6, maxDims: Int = 8): Seq[TreeSpec] = {
    var remaining = minedNeeds(fx, miningWorkload()).map(_._2)
    val out = Seq.newBuilder[TreeSpec]
    var t = 0
    while (t < maxTrees && remaining.nonEmpty) {
      var dims = Set.empty[String]
      var d = 0
      while (d < maxDims) {
        val gain = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        val freq = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        remaining.foreach { case (ds, _) =>
          val miss = ds -- dims
          if (miss.size == 1) gain(miss.head) += 1
          miss.foreach(c => freq(c) += 1)
        }
        val pick =
          if (gain.nonEmpty) Some(gain.toSeq.maxBy { case (c, g) => (g, c) }._1)
          else if (freq.nonEmpty) Some(freq.toSeq.maxBy { case (c, g) => (g, c) }._1)
          else None
        pick match {
          case Some(c) => dims += c; d += 1
          case None => d = maxDims
        }
      }
      val spec0 = TreeSpec(dims.toSeq.sorted, Nil, 0)
      def coveredBy(n: (Set[String], Set[String])): Boolean =
        n._1.subsetOf(dims) && !n._2.exists(dims.contains)
      val cov = remaining.filter(coveredBy)
      if (cov.nonEmpty)
        out += spec0.copy(
          metrics = cov.flatMap(_._2).distinct.sorted,
          minedCover = cov.size)
      remaining = remaining.filterNot(coveredBy)
      t += 1
    }
    out.result()
  }

  /** Corpus line ids the mining model predicts WILL route given the
    * built trees — equated with actual plan shape in
    * CorpusStarTreeSpec. Reads the corpus file. */
  def predictedRoutedIds(fx: Fixture, specs: Seq[TreeSpec]): Set[Int] =
    minedNeeds(fx, OnTimeCorpus.corpus).collect {
      case (id, need) if specs.exists(_.covers(need)) => id
    }.toSet

  /** Fact-segment copy used by star-tree mode. The base fixture's
    * parquet is CACHED (`fixture` calls `.cache()`), and Spark's cache
    * manager substitutes the InMemoryRelation for ANY read of the same
    * path — which would bypass the routing rule (it matches file
    * scans) and make the whole mode vacuous. A distinct path defeats
    * the fragment match, so star-tree queries really hit a
    * `LogicalRelation` the rule can rewrite. Tagged with the JVM pid:
    * unlike the base fixture (which each process rewrites once before
    * reading), these dirs are written and read while OTHER harness
    * JVMs may be doing the same, and two writers corrupt each other's
    * `_temporary` commit dirs. */
  private val jvmTag: Long = java.lang.ProcessHandle.current().pid()

  def stFactDir(numRows: Int = 8000): String = s"${segDir(numRows)}_stfact_$jvmTag"

  /** One-shot startup sweep of fixture dirs left behind by DEAD
    * harness JVMs. The per-pid dirs above are written once per
    * process and never deleted (the process may still be serving
    * routed queries from them at any point in its life), so across a
    * round's many harness JVMs they accumulate — the round-12 scale
    * ladder lost ~26 GB of /tmp to them and crashed mid-run. Scope is
    * deliberately narrow: only the two name shapes THIS object
    * writes, and only when the embedded pid is provably not a live
    * process (a recycled pid keeps the dir — conservative; a later
    * sweep collects it). The shared pid-less base dirs
    * (`graft_corpus_fx_<n>`) are never touched: every process
    * rewrites those before reading them. */
  private[graft] def sweepStaleFixtureDirs(): Int = {
    val StFact = """graft_corpus_fx_\d+_(?:stfact|dictfact|dictenc)_(\d+)""".r
    val StTree = """graft_corpus_fx_\d+_startree_(\d+)_.*""".r
    def alive(pid: Long): Boolean = {
      val h = java.lang.ProcessHandle.of(pid)
      h.isPresent && h.get.isAlive
    }
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
      f.delete()
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val entries = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
    var removed = 0
    entries.foreach { f =>
      val stalePid = f.getName match {
        case StFact(p) => Some(p.toLong)
        case StTree(p) => Some(p.toLong)
        case _ => None
      }
      stalePid.foreach { p =>
        if (p != jvmTag && !alive(p)) { rmTree(f); removed += 1 }
      }
    }
    removed
  }
  sweepStaleFixtureDirs() // once, at first use of the harness in this JVM

  @volatile private var builtTrees: (SparkSession, (Int, Int, Int), Seq[TreeSpec]) = null

  /** Build, persist (parquet — queries then column-prune the rollup
    * scan like any segment), and register the mined trees for the
    * star-tree fact segment ([[stFactDir]], also written here). Caller
    * owns cleanup: `StarTreeRegistry.unregister(stFactDir(numRows))`.
    * The expensive part (mining + 6 cube builds + parquet writes) runs
    * once per (session, numRows) under the default shape; repeat calls
    * only re-register the already-persisted rollups. */
  def registerCorpusTrees(spark: SparkSession, fx: Fixture,
      numRows: Int = 8000, maxTrees: Int = 6, maxDims: Int = 8): Seq[TreeSpec] = {
    // paths carry the mining SHAPE too: a non-default-shape call must
    // never overwrite files a cached default-shape registration will
    // re-read (shape-blind paths + shape-keyed cache = poisoned pairs)
    def treePath(i: Int) =
      s"${segDir(numRows)}_startree_${jvmTag}_${maxTrees}x${maxDims}_$i"
    val key = (numRows, maxTrees, maxDims)
    val cached = builtTrees
    val specs =
      if (cached != null && (cached._1 eq spark) && cached._2 == key)
        cached._3
      else synchronized {
        val c2 = builtTrees
        if (c2 != null && (c2._1 eq spark) && c2._2 == key) c2._3
        else {
          fx.mv.write.mode("overwrite").parquet(stFactDir(numRows))
          val built = starTreeSpecs(fx, maxTrees, maxDims)
          built.zipWithIndex.foreach { case (s, i) =>
            graft.plans.StarTree.build(fx.mv, s.dims, s.metrics).rollup
              .write.mode("overwrite").parquet(treePath(i))
          }
          builtTrees = (spark, key, built)
          built
        }
      }
    specs.zipWithIndex.foreach { case (s, i) =>
      graft.plans.StarTreeRegistry.register(stFactDir(numRows),
        graft.plans.StarTree.Index(s.dims, s.metrics,
          spark.read.parquet(treePath(i))))
    }
    specs
  }

  // ---- dictionary-layout routed mode -------------------------------------

  /** Fact-segment copy + encoded copy used by dict mode — pid-tagged
    * for the same write-collision reasons as [[stFactDir]] (and swept
    * by [[sweepStaleFixtureDirs]] once the JVM dies). */
  def dictFactDir(numRows: Int = 8000): String = s"${segDir(numRows)}_dictfact_$jvmTag"
  def dictEncDir(numRows: Int = 8000): String = s"${segDir(numRows)}_dictenc_$jvmTag"

  @volatile private var builtDict: (SparkSession, Int, graft.plans.DictLayout.Index) = null

  /** Build (once per session/numRows), persist, and REGISTER the
    * dictionary forward-index layout over EVERY single-value string
    * dimension of the fixture — [[graft.plans.DictRoutingRule]] then
    * answers routable aggregates and ordered selections from the
    * encoded copy ([[dictEncDir]]) while non-routable shapes (MV
    * group keys, transform group keys) keep the raw scan. Corpus and
    * generated lines run unchanged; the hsql twin still reads the
    * plain flat table, so any id-space translation or decode defect
    * flips `matched`. Caller owns
    * `DictRegistry.unregister(dictFactDir(numRows))`. */
  def registerCorpusDict(spark: SparkSession, fx: Fixture,
      numRows: Int = 8000): graft.plans.DictLayout.Index = {
    val cached = builtDict
    val idx =
      if (cached != null && (cached._1 eq spark) && cached._2 == numRows) cached._3
      else synchronized {
        val c2 = builtDict
        if (c2 != null && (c2._1 eq spark) && c2._2 == numRows) c2._3
        else {
          fx.mv.write.mode("overwrite").parquet(dictFactDir(numRows))
          // every SV string dimension (MV/array columns are not
          // dictionary-encodable; numerics pass through raw) — at
          // fixture scale each dictionary is ≤ numRows entries
          val dictCols = fx.mv.schema.fields
            .filter(_.dataType == org.apache.spark.sql.types.StringType)
            .map(_.name).toSeq
          val built = graft.plans.DictLayout.build(
            spark, spark.read.parquet(dictFactDir(numRows)),
            dictFactDir(numRows), dictEncDir(numRows), dictCols)
          builtDict = (spark, numRows, built)
          built
        }
      }
    graft.plans.DictRegistry.register(dictFactDir(numRows), idx)
    idx
  }

  /** (answered-from-encoded-copy, still-scans-raw-fact) for one
    * line's optimized plan under dict mode — same contract as
    * [[routeCensus]]: "routed" means the plan READS the encoded copy;
    * a plan may legitimately be neither (constant-folded scans,
    * metadata-only COUNT). */
  def dictCensus(q: Pql.Query, pqlTable: DataFrame,
      numRows: Int = 8000): (Boolean, Boolean) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = Pql.toDataFrame(q, _ => pqlTable).queryExecution.optimizedPlan
    var routed = false
    var scansFact = false
    plan.foreach {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val roots = fs.location.rootPaths.map(_.toString)
        if (roots.exists(_.contains(dictEncDir(numRows)))) routed = true
        if (roots.exists(_.contains(dictFactDir(numRows)))) scansFact = true
      case _ => ()
    }
    (routed, scansFact)
  }

  /** (answered-from-rollup, still-scans-fact) for one line's optimized
    * plan. "Routed" means the plan READS a registered rollup — absence
    * of the fact scan alone is not routing: `LIMIT 0` and
    * contradictory predicates constant-fold the scan away entirely,
    * and a global `COUNT(*)` takes the metadata-only plan, all without
    * touching a rollup. A plan may legitimately be neither. */
  def routeCensus(q: Pql.Query, pqlTable: DataFrame,
      numRows: Int = 8000): (Boolean, Boolean) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = Pql.toDataFrame(q, _ => pqlTable).queryExecution.optimizedPlan
    var routed = false
    var scansFact = false
    plan.foreach {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val roots = fs.location.rootPaths.map(_.toString)
        if (roots.exists(_.contains(s"${segDir(numRows)}_startree_"))) routed = true
        if (roots.exists(_.contains(stFactDir(numRows)))) scansFact = true
      case _ => ()
    }
    (routed, scansFact)
  }

  /** Was this line answered from a registered rollup? */
  def isRouted(q: Pql.Query, pqlTable: DataFrame, numRows: Int = 8000): Boolean =
    routeCensus(q, pqlTable, numRows)._1

  // ---- canonical values -------------------------------------------------

  /** Scalar cell → canonical string (H2-side getString analog). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString // reference lowercases H2's TRUE/FALSE
    case other => String.valueOf(other)
  }

  /** Multi-value cell → canonical: pad to 5 with "null", sort — the
    * reference's element-order-insensitive MV compare (lines 719-725,
    * 772-785). */
  private def canonMv(elems: Seq[Any]): String = {
    val padded = elems.map(canon) ++ Seq.fill(math.max(0, 5 - elems.size))("null")
    padded.sorted.mkString("[", ",", "]")
  }

  private def toDouble(v: Any): Option[Double] = v match {
    case null => None
    case n: Number => Some(n.doubleValue())
    case s: String => try Some(s.toDouble) catch { case _: NumberFormatException => None }
    case _ => None
  }

  private def fuzzyEq(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---- per-line comparison ---------------------------------------------

  final case class Outcome(id: Int, matched: Boolean, mode: String, reason: String)

  def compareLine(spark: SparkSession, fx: Fixture, line: OnTimeCorpus.Line): Outcome =
    compareLine(spark, fx, line, fx.mv)

  /** As [[compareLine]], but the PQL side reads `pqlTable` (the hybrid
    * stitched view in hybrid mode); the hsql side always reads the
    * plain flat twin, so a stitch defect cannot cancel out. */
  def compareLine(spark: SparkSession, fx: Fixture, line: OnTimeCorpus.Line,
      pqlTable: DataFrame): Outcome = {
    try {
      val q = Pql.parse(line.pql)
      val pqlDf = Pql.toDataFrame(q, _ => pqlTable)
      val selAggs = q.select.filter(Pql.isAggExpr)
      if (selAggs.nonEmpty && q.groupBy.isEmpty) compareAggOnly(spark, line, q, pqlDf, selAggs)
      else if (q.groupBy.nonEmpty) compareGroupBy(spark, line, q, pqlDf, selAggs)
      else compareSelection(spark, fx, line, q, pqlDf)
    } catch {
      case e: Exception =>
        Outcome(line.id, matched = false, "error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  private def compareAggOnly(spark: SparkSession, line: OnTimeCorpus.Line,
      q: Pql.Query, pqlDf: DataFrame, selAggs: Seq[Pql.Expr]): Outcome = {
    require(line.hsqls.length == selAggs.length,
      s"hsql count ${line.hsqls.length} != aggregation count ${selAggs.length}")
    val row = pqlDf.head()
    var i = 0
    while (i < selAggs.length) {
      val h2 = spark.sql(line.hsqls(i)).head()
      val expected = toDouble(h2.get(0))
      val actual = toDouble(row.get(i))
      val isCount = selAggs(i) match {
        case Pql.Func(n, _) => n == "count"
        case _ => false
      }
      (expected, actual) match {
        case (None, None) => () // both empty-input nulls
        case (None, Some(a)) =>
          // H2 null ⟺ zero docs selected (ref lines 549-559); COUNT
          // over zero docs is 0 on the engine side, not null
          if (!(isCount && a == 0.0))
            return Outcome(line.id, matched = false, "agg",
              s"agg $i: H2 empty but engine returned $a")
        case (Some(e), Some(a)) =>
          if (!fuzzyEq(a, e))
            return Outcome(line.id, matched = false, "agg",
              s"agg $i: expected $e got $a")
        case (Some(e), None) =>
          return Outcome(line.id, matched = false, "agg",
            s"agg $i: expected $e got null")
      }
      i += 1
    }
    Outcome(line.id, matched = true, "agg", "")
  }

  private def compareGroupBy(spark: SparkSession, line: OnTimeCorpus.Line,
      q: Pql.Query, pqlDf: DataFrame, selAggs: Seq[Pql.Expr]): Outcome = {
    require(line.hsqls.length == selAggs.length,
      s"hsql count ${line.hsqls.length} != aggregation count ${selAggs.length}")
    val nKeys = q.groupBy.length
    val pqlRows = pqlDf.collect()
    // TOP trim contract: the engine returns at most TOP n groups
    // (default 10). Without this, generated `TOP 0` lines pass
    // vacuously under containment (zero rows are trivially contained)
    // — this makes those lines test the trim itself, and catches any
    // over-return on every corpus/generated line for free.
    val topCap = q.top.getOrElse(10)
    if (pqlRows.length > topCap)
      return Outcome(line.id, matched = false, "groupby",
        s"TOP $topCap but engine returned ${pqlRows.length} groups")
    var i = 0
    while (i < selAggs.length) {
      val h2Rows = spark.sql(line.hsqls(i)).collect()
      if (h2Rows.length >= MaxRowsToCompare)
        return Outcome(line.id, matched = true, "groupby", "skipped: H2 not exhausted")
      val expected: Map[String, Any] = h2Rows.map { r =>
        (0 until nKeys).map(k => canon(r.get(k))).mkString("\u0001") -> r.get(nKeys)
      }.toMap
      if (expected.isEmpty) {
        if (pqlRows.nonEmpty)
          return Outcome(line.id, matched = false, "groupby",
            s"agg $i: H2 returned no groups but engine returned ${pqlRows.length}")
      } else {
        // containment: TOP trims the engine side (ref lines 631-660)
        for (r <- pqlRows) {
          val key = (0 until nKeys).map(k => canon(r.get(k))).mkString("\u0001")
          expected.get(key) match {
            case None =>
              return Outcome(line.id, matched = false, "groupby",
                s"agg $i: group [$key] returned by engine but absent in H2")
            case Some(h2v) =>
              val e = toDouble(h2v)
              val a = toDouble(r.get(nKeys + i))
              if (e.isDefined != a.isDefined || e.exists(ev => !fuzzyEq(a.get, ev)))
                return Outcome(line.id, matched = false, "groupby",
                  s"agg $i group [$key]: expected $h2v got ${r.get(nKeys + i)}")
          }
        }
      }
      i += 1
    }
    Outcome(line.id, matched = true, "groupby", "")
  }

  private def compareSelection(spark: SparkSession, fx: Fixture,
      line: OnTimeCorpus.Line, q: Pql.Query, pqlDf: DataFrame): Outcome = {
    val mvCols = fx.mv.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] => f.name.toLowerCase
    }.toSet
    val isMv = q.select.map {
      case Pql.Ident(n) => mvCols.contains(n.toLowerCase)
      case _ => false
    }
    val h2Rows = spark.sql(line.hsqls.head).collect()
    if (h2Rows.length >= MaxRowsToCompare)
      return Outcome(line.id, matched = true, "selection", "skipped: H2 not exhausted")

    // H2 rows: each MV select item occupies five __MVi columns
    def h2Canon(r: Row): String = {
      var c = 0
      isMv.map { mv =>
        if (mv) { val s = canonMv((0 until 5).map(j => r.get(c + j)).filter(_ != null)); c += 5; s }
        else { val s = canon(r.get(c)); c += 1; s }
      }.mkString("\u0001")
    }
    def pqlCanon(r: Row): String =
      isMv.zipWithIndex.map { case (mv, c) =>
        if (mv) canonMv(r.getSeq[Any](c)) else canon(r.get(c))
      }.mkString("\u0001")

    val expected = h2Rows.map(h2Canon).toSet
    val pqlRows = pqlDf.collect()
    // LIMIT trim contract (mirror of the group-by TOP cap): at most
    // `size` rows (default 10) — generated `LIMIT 0` lines then test
    // the trim instead of passing vacuously under containment.
    val limitCap = q.limit.map(_._2).getOrElse(10)
    if (pqlRows.length > limitCap)
      return Outcome(line.id, matched = false, "selection",
        s"LIMIT $limitCap but engine returned ${pqlRows.length} rows")
    if (expected.isEmpty) {
      if (pqlRows.nonEmpty)
        return Outcome(line.id, matched = false, "selection",
          s"H2 returned no rows but engine returned ${pqlRows.length}")
      return Outcome(line.id, matched = true, "selection", "")
    }
    for (r <- pqlRows) {
      val v = pqlCanon(r)
      if (!expected.contains(v))
        return Outcome(line.id, matched = false, "selection",
          s"row returned by engine but absent in H2: ${v.replace('\u0001', '|').take(200)}")
    }
    Outcome(line.id, matched = true, "selection", "")
  }

  // ---- entry points -----------------------------------------------------

  /** Micro-query regime for the harness only: the fixture is a few
    * thousand cached rows, so AQE's stage-by-stage resubmission and
    * multi-partition exchanges cost more than the queries themselves
    * (measured ~100× on the full sweep). Session confs are set for the
    * duration of `f` and restored — engine defaults elsewhere are
    * untouched. Safe because harness entry points run single-caller. */
  private def withMicroQueryConf[A](spark: SparkSession)(f: => A): A = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  /** Run corpus lines through [[compareLine]] on a driver-side thread
    * pool — each line is a handful of tiny jobs over the cached
    * fixture, so the bottleneck is per-job scheduling latency, not
    * compute; concurrent submission overlaps it (Spark's scheduler is
    * built for multi-threaded drivers). Results keep `lines` order. */
  /** Driver-pool width for [[compareAll]] — the work is per-line query
    * PLANNING (parse/analyze over the 115-column fixture) plus tiny
    * jobs, both of which overlap across threads; GRAFT_CORPUS_PAR
    * overrides for tuning runs. */
  private def defaultParallelism: Int =
    sys.env.get("GRAFT_CORPUS_PAR").map(_.toInt).getOrElse(8)

  def compareAll(spark: SparkSession, fx: Fixture,
      lines: Seq[OnTimeCorpus.Line], parallelism: Int = defaultParallelism,
      pqlTable: DataFrame = null): Seq[Outcome] =
    withMicroQueryConf(spark) {
      val table = if (pqlTable == null) fx.mv else pqlTable
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      try {
        val futures = lines.map { l =>
          pool.submit(new java.util.concurrent.Callable[Outcome] {
            def call(): Outcome = compareLine(spark, fx, l, table)
          })
        }
        futures.map(_.get())
      } finally { pool.shutdown(); () }
    }

  /** Run a set of corpus lines, returning (line_id, mode, matched,
    * reason) — the `q_corpus_sample` surface; `hybrid = true` answers
    * the PQL side from the stitched offline∪realtime view;
    * `starTree = true` reads the fact from its (uncached) parquet
    * segment with the mined rollup trees registered, so routable lines
    * are answered by [[graft.plans.StarTreeRoutingRule]] — a routing
    * defect then flips `matched` against the plain-table hsql twin.
    * `dict = true` likewise reads a raw fact copy with the dictionary
    * layout registered ([[registerCorpusDict]]), so
    * [[graft.plans.DictRoutingRule]] answers routable aggregates and
    * ordered selections from the encoded copy. */
  def runLines(spark: SparkSession, ids: Seq[Int], numRows: Int = 8000,
      hybrid: Boolean = false, starTree: Boolean = false,
      dict: Boolean = false): DataFrame =
    runLineSet(spark, corpusLines(ids), numRows, hybrid, starTree, dict)

  /** The corpus lines with these ids, in `ids` order. Reads the corpus
    * file, so a missing file fails with its path. */
  def corpusLines(ids: Seq[Int]): Seq[OnTimeCorpus.Line] = {
    val byId = OnTimeCorpus.corpus.map(l => l.id -> l).toMap
    ids.map(byId)
  }

  /** As [[runLines]] but over an explicit line set (the [[QueryGen]]
    * surfaces feed generated lines through the same fixture modes). */
  def runLineSet(spark: SparkSession, lines: Seq[OnTimeCorpus.Line],
      numRows: Int = 8000, hybrid: Boolean = false,
      starTree: Boolean = false, dict: Boolean = false): DataFrame = {
    val fx = fixture(spark, numRows)
    val table =
      if (hybrid) hybridView(spark, numRows)
      else if (starTree) {
        graft.Graft.enable(spark)
        registerCorpusTrees(spark, fx, numRows)
        spark.read.parquet(stFactDir(numRows))
      } else if (dict) {
        graft.Graft.enable(spark)
        registerCorpusDict(spark, fx, numRows)
        spark.read.parquet(dictFactDir(numRows))
      } else fx.mv
    try {
      val outcomes = compareAll(spark, fx, lines, pqlTable = table)
      import spark.implicits._
      outcomes.map(o => (o.id, o.mode, o.matched, o.reason))
        .toDF("line_id", "mode", "matched", "reason")
    } finally {
      if (starTree) graft.plans.StarTreeRegistry.unregister(stFactDir(numRows))
      if (dict) graft.plans.DictRegistry.unregister(dictFactDir(numRows))
    }
  }

  /** Deterministic sample: every `step`-th line id. */
  def sampleIds(step: Int): Seq[Int] = 0 until 10000 by step

  /** The first `k` aggregation-only corpus lines (deterministic scalar
    * results → exact DuckDB oracle material). Spark-free: `oracleSql`
    * is a static contract, so this reads and parses the corpus only. */
  def aggOnlyLines(k: Int): Vector[OnTimeCorpus.Line] =
    OnTimeCorpus.corpus.filter { l =>
      val q = try Some(Pql.parse(l.pql)) catch { case _: IllegalArgumentException => None }
      q.exists(p => p.groupBy.isEmpty && p.select.forall(Pql.isAggExpr) && p.select.nonEmpty)
    }.take(k)

  /** PQL-side frame for the DuckDB-checked slice: one row per
    * (line_id, agg_idx) with the aggregation value rounded to 6
    * places — the oracle runs the paired hsqls in DuckDB over the
    * parquet dump of the same synthesized table. */
  def duckSlice(spark: SparkSession, k: Int, numRows: Int = 8000): DataFrame =
    duckSliceFor(spark, aggOnlyLines(k), numRows)

  /** [[duckSlice]] over an arbitrary aggregation-only line set (the
    * [[QueryGen]] slice reuses the exact same machinery). */
  def duckSliceFor(spark: SparkSession, lines: Seq[OnTimeCorpus.Line],
      numRows: Int = 8000): DataFrame = {
    val fx = fixture(spark, numRows)
    import spark.implicits._
    val slice: Seq[(Int, Int, java.lang.Double)] = withMicroQueryConf(spark) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = lines.map { l =>
          pool.submit(new java.util.concurrent.Callable[Seq[(Int, Int, java.lang.Double)]] {
            def call(): Seq[(Int, Int, java.lang.Double)] = {
              val q = Pql.parse(l.pql)
              val row = Pql.toDataFrame(q, _ => fx.mv).head()
              q.select.indices.map { i =>
                val v: java.lang.Double = toDouble(row.get(i))
                  .map(d => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
                  .map(Double.box).orNull
                (l.id, i, v)
              }
            }
          })
        }
        futures.flatMap(_.get())
      } finally { pool.shutdown(); () }
    }
    slice.toDF("line_id", "agg_idx", "value")
      .orderBy("line_id", "agg_idx")
  }

  /** DuckDB oracle SQL for [[duckSlice]]: each hsql rewritten to read
    * the flat parquet dump (`{OUT}` is substituted by Verify with the
    * output dir at dump time). */
  def duckSliceOracle(k: Int): String = duckSliceOracleFor(aggOnlyLines(k))

  /** [[duckSliceOracle]] over an arbitrary aggregation-only line set;
    * also renames Spark's `regexp_like` to DuckDB's `regexp_matches`
    * (same partial-match semantics, different name — generated lines
    * carry regex predicates the corpus does not) and Spark's exact
    * `percentile` to DuckDB's `quantile_cont` (same (n−1)·q linear
    * interpolation — the mode-B slice carries exact-percentile
    * aggregations; fixed-corpus hsqls contain neither name). */
  def duckSliceOracleFor(lines: Seq[OnTimeCorpus.Line]): String = {
    val parts = lines.flatMap { l =>
      l.hsqls.zipWithIndex.map { case (h, i) =>
        val scalar = h.replaceAll("(?i)\\bFROM\\s+mytable\\b",
            "FROM read_parquet('{OUT}_aux/corpus_flat_parquet/*.parquet')")
          .replaceAll("(?i)\\bregexp_like\\(", "regexp_matches(")
          .replaceAll("(?i)\\bpercentile\\(", "quantile_cont(")
        s"SELECT ${l.id} AS line_id, $i AS agg_idx, round(CAST(($scalar) AS DOUBLE), 6) AS value"
      }
    }
    parts.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY line_id, agg_idx")
  }

  /** Static self-oracle for `q_corpus_sample`: the sampled ids, all
    * expected to match — a mismatch on ANY sampled line flips its
    * `matched` cell and fails the driver's hash compare. */
  def sampleOracle(step: Int): String = {
    val values = sampleIds(step).map(i => s"($i)").mkString(",")
    s"SELECT line_id, TRUE AS matched FROM (VALUES $values) t(line_id) ORDER BY line_id"
  }
}
