package graft.pql

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DecimalType, NumericType, StringType}

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
  * One harness serves every layout the PQL side can read ([[Layout]]:
  * plain, hybrid, star-tree, dictionary). [[compare]] parses each line
  * and collects its hsql twin once, then checks every requested
  * layout's PQL answer against it. The `q_corpus` / `q_querygen*`
  * gate rows ([[graft.queries.CorpusQueries]]), the specs and the
  * resumable sweep main
  * `graft.HarnessSweep <corpus|a|b> <lo-hi> <layout,…> <outFile>` all
  * run through it.
  *
  * Harness code, driver-side by design: every collect is bounded by
  * the reference's own MAX_NUM_ROWS_TO_COMPARE = 10,000.
  */
object CorpusHarness {

  private val MaxRowsToCompare = 10000

  /** Rows of the synthesized fixture. */
  private val NumRows = 8000

  /** Driver threads [[compare]] and the duck slices run lines on: the
    * work is per-line query PLANNING (parse/analyze over the
    * 115-column fixture) plus tiny jobs, both of which overlap across
    * threads (Spark's scheduler is built for multi-threaded drivers). */
  private val Parallelism = 8

  /** Star-tree mining bound: at most this many trees per mined
    * workload, of at most this many dimensions each. Ten cover every
    * coverable star-tree-eligible line of the generated gate rows. */
  private val MaxTrees = 10
  private val MaxDims = 8

  /** Parquet dump backing the fixture — the "segment directory". Every
    * harness JVM rewrites it before reading it. */
  val segDir: String = s"${System.getProperty("java.io.tmpdir")}/graft_corpus_fx_$NumRows"

  /** Fact-segment copies the routed layouts read, and the dictionary-
    * encoded copy. The base fixture's parquet is CACHED, and Spark's
    * cache manager substitutes the InMemoryRelation for ANY read of the
    * same path — which would bypass the routing rules (they match file
    * scans) and make the routed layouts vacuous. A distinct path
    * defeats the fragment match. Star-tree and dictionary each keep
    * their own copy, so both can be registered at once. Tagged with
    * the JVM pid: unlike the base fixture (which each process rewrites
    * once before reading), these dirs are written and read while OTHER
    * harness JVMs may be doing the same, and two writers corrupt each
    * other's `_temporary` commit dirs. */
  private val jvmTag: Long = java.lang.ProcessHandle.current().pid()
  private val stFactDir: String = s"${segDir}_stfact_$jvmTag"
  private val dictFactDir: String = s"${segDir}_dictfact_$jvmTag"
  private val dictEncDir: String = s"${segDir}_dictenc_$jvmTag"
  private val treeDirPrefix = s"${segDir}_startree_${jvmTag}_"

  /** One-shot startup sweep of fixture dirs left behind by DEAD
    * harness JVMs. The per-pid dirs above are written once per
    * process and never deleted (the process may still be serving
    * routed queries from them at any point in its life), so across a
    * round's many harness JVMs they accumulate — the round-12 scale
    * ladder lost ~26 GB of /tmp to them and crashed mid-run. Scope is
    * deliberately narrow: only the name shapes THIS object writes
    * (`…_startree_<pid>_<i>`, and `…_startree_<pid>_6x8_<i>` from
    * harness versions that tagged the mining shape), and only when the
    * embedded pid is provably not a live process (a recycled pid keeps
    * the dir — conservative; a later sweep collects it). The shared
    * pid-less base dirs (`graft_corpus_fx_<n>`) are never touched:
    * every process rewrites those before reading them. */
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

  // ---- the fixture: one cache per session -------------------------------

  /** The synthesized OnTime fixture of one session, and the one cache of
    * everything the layouts build over it. `mv` is the MV table the PQL
    * side reads; `flat` is its H2-style flat twin, registered as temp
    * view `mytable`, which every hsql reads. [[NumRows]] deterministic
    * rows of the in-code schema ([[OnTimeCorpus.Schema]]) drawn from
    * [[OnTimeCorpus.fixturePools]]; needs no file (the corpus, where
    * present, only adds its mined literals to the pools). The layouts'
    * structures below are built on first use, under the instance lock
    * of their lazy vals. */
  final class Fixture private[CorpusHarness] (val spark: SparkSession) {
    // round-trip the synthesized frame through parquet before caching:
    // the synthesis plan embeds the literal pools (~1.7 MB of task
    // binary with the corpus-mined ones), and every micro-query task
    // would otherwise ship them — with thousands of harness statements
    // that serialization dominated wall time ("task of very large
    // size" warnings). Re-read, each plan is a plain 4-file scan.
    OnTimeCorpus.synthesize(spark, OnTimeCorpus.Schema, OnTimeCorpus.fixturePools(), NumRows)
      .write.mode("overwrite").parquet(segDir)
    val mv: DataFrame = spark.read.parquet(segDir).cache()
    val flat: DataFrame = OnTimeCorpus.flatten(mv).cache()
    flat.createOrReplaceTempView("mytable")
    flat.count() // materialize both caches once

    /** HYBRID-table view — the reference's `HybridClusterIntegrationTest`
      * dimension (offline segments + realtime consumption of the SAME
      * data, stitched by the broker's time boundary):
      * [[graft.streaming.HybridTable.view]] over an offline slice (rows
      * at or below the median time value — the "pushed segments") and
      * a realtime side holding the FULL row stream (the reference test
      * feeds every Avro row to Kafka, so the sides overlap on the whole
      * offline range). The stitch must answer each row EXACTLY once —
      * any leak or double-count breaks aggregations against the flat
      * twin, which still reads the plain full table. */
    lazy val hybrid: DataFrame = {
      val timeCol = OnTimeCorpus.TimeColumn
      val cut = mv.selectExpr(s"percentile($timeCol, 0.5)").head().getDouble(0)
      val view = graft.streaming.HybridTable.view(mv.filter(col(timeCol) <= cut), mv, timeCol)
        .cache()
      view.count() // materialize once; micro-queries then scan the cache
      view
    }

    /** The star-trees mined for the harness workload ([[starTreeSpecs]]). */
    lazy val treeSpecs: Seq[TreeSpec] = starTreeSpecs(this)

    /** [[treeSpecs]] built over the fact copy ([[stFactDir]], written
      * here) and persisted as parquet, so queries column-prune the
      * rollup scan like any segment. */
    private[pql] lazy val treeIndexes: Seq[graft.plans.StarTree.Index] = {
      mv.write.mode("overwrite").parquet(stFactDir)
      treeSpecs.zipWithIndex.map { case (s, i) =>
        graft.plans.StarTree.build(mv, s.dims, s.metrics).rollup
          .write.mode("overwrite").parquet(s"$treeDirPrefix$i")
        graft.plans.StarTree.Index(s.dims, s.metrics, spark.read.parquet(s"$treeDirPrefix$i"))
      }
    }

    /** The dictionary forward-index layout over EVERY single-value
      * string dimension of the fact copy ([[dictFactDir]], written
      * here), encoded into [[dictEncDir]]. MV/array columns are not
      * dictionary-encodable and numerics pass through raw; at fixture
      * scale each dictionary holds at most [[NumRows]] entries. */
    lazy val dict: graft.plans.DictLayout.Index = {
      mv.write.mode("overwrite").parquet(dictFactDir)
      val dictCols = mv.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
      graft.plans.DictLayout.build(spark, spark.read.parquet(dictFactDir),
        dictFactDir, dictEncDir, dictCols)
    }
  }

  private var cached: Fixture = null

  /** This session's fixture, built on first use and then shared by
    * Verify, Bench and every spec of the JVM. */
  def fixture(spark: SparkSession): Fixture = synchronized {
    if (cached == null || !(cached.spark eq spark)) cached = new Fixture(spark)
    cached
  }

  // ---- layouts ------------------------------------------------------------

  /** Where the PQL side of a comparison reads from. The hsql twin always
    * reads the plain flat table, so no layout defect can cancel out.
    * Each layout owns the table its PQL side reads, the indexes its
    * routing rule answers from (by fact path), and the plan
    * fragments its [[Route]] looks for: `routedRoot`, the copy it
    * routes onto, and `factRoot`, the raw fact copy it routes away
    * from. The scan layouts have neither. */
  sealed abstract class Layout(val name: String, private[pql] val routedRoot: Option[String],
      private[pql] val factRoot: Option[String]) {
    /** The table the PQL side reads, built on first use. */
    private[pql] def table(fx: Fixture): DataFrame
    private[pql] def trees(fx: Fixture): Seq[(String, graft.plans.StarTree.Index)] = Nil
    private[pql] def dicts(fx: Fixture): Seq[(String, graft.plans.DictLayout.Index)] = Nil
    /** Whether a plan under this layout can read a routed copy. */
    def routes: Boolean = routedRoot.nonEmpty

    /** What `df`'s optimized plan reads under this layout — the plan
      * its execution runs, so reading it plans nothing twice. */
    private[pql] def route(df: DataFrame): Route =
      if (!routes) Route.Neither
      else {
        val roots = df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
        def reads(root: Option[String]) = root.exists(r => roots.exists(_.contains(r)))
        Route(reads(routedRoot), reads(factRoot))
      }
  }

  object Layout {
    /** The plain cached fixture table. */
    case object Plain extends Layout("plain", None, None) {
      private[pql] def table(fx: Fixture): DataFrame = fx.mv
    }

    /** The stitched offline∪realtime view ([[Fixture.hybrid]]). */
    case object Hybrid extends Layout("hybrid", None, None) {
      private[pql] def table(fx: Fixture): DataFrame = fx.hybrid
    }

    /** The uncached fact copy with the mined star-tree rollups
      * registered: [[graft.plans.StarTreeRoutingRule]] answers routable
      * lines from a rollup, so a routing defect flips `matched`. */
    case object StarTree extends Layout("startree", Some(treeDirPrefix), Some(stFactDir)) {
      private[pql] def table(fx: Fixture): DataFrame = {
        fx.treeIndexes
        fx.spark.read.parquet(stFactDir)
      }
      override private[pql] def trees(fx: Fixture) = fx.treeIndexes.map(stFactDir -> _)
    }

    /** The uncached fact copy with the dictionary layout registered:
      * [[graft.plans.DictRoutingRule]] answers routable aggregates and
      * ordered selections from the encoded copy (int dict ids, decode
      * at output) while non-routable shapes (MV group keys, transform
      * group keys) keep the raw scan, so an id-space translation or
      * decode defect flips `matched`. */
    case object Dict extends Layout("dict", Some(dictEncDir), Some(dictFactDir)) {
      private[pql] def table(fx: Fixture): DataFrame = {
        fx.dict
        fx.spark.read.parquet(dictFactDir)
      }
      override private[pql] def dicts(fx: Fixture) = Seq(dictFactDir -> fx.dict)
    }

    val all: Seq[Layout] = Seq(Plain, Hybrid, StarTree, Dict)

    def named(name: String): Layout = all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown layout '$name' (one of ${all.map(_.name).mkString(", ")})"))
  }

  /** Build everything `layouts` read in this session — the fixture, the
    * hybrid view, the rollups, the dictionary layout — and return their
    * tables, in order. [[compare]] starts here; Bench calls it to keep
    * one-time builds out of its timed harness rows. */
  def prepare(spark: SparkSession, layouts: Seq[Layout]): Seq[DataFrame] = {
    val fx = fixture(spark)
    layouts.map(_.table(fx))
  }

  /** `f` over the tables `layouts` read, with their segments registered
    * for its duration. */
  private def withLayouts[A](spark: SparkSession, layouts: Seq[Layout])(
      f: Seq[DataFrame] => A): A = {
    val tables = prepare(spark, layouts)
    val fx = fixture(spark)
    graft.Graft.withIndexes(spark, layouts.flatMap(_.trees(fx)),
      layouts.flatMap(_.dicts(fx)))(f(tables))
  }

  // ---- routes -----------------------------------------------------------

  /** What one line's optimized plan reads under a layout: `routed` —
    * its routed copy (a registered rollup, the dictionary-encoded
    * copy); `scansFact` — its raw fact copy. Routed means the plan
    * READS the routed copy: absence of the fact scan alone is not
    * routing, because `LIMIT 0` and contradictory predicates
    * constant-fold the scan away and a global `COUNT(*)` takes the
    * metadata-only plan, all without touching a routed copy. A plan may
    * legitimately read neither; so does a line that does not parse, and
    * every plan of a scan layout. */
  final case class Route(routed: Boolean, scansFact: Boolean)

  object Route {
    /** Reads no routed copy and no fact copy. */
    val Neither: Route = Route(routed = false, scansFact = false)
  }

  // ---- star-tree mining -------------------------------------------------

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
    * routable aggregation: no HAVING, grouped on plain scalar columns,
    * every select item a plain COUNT/SUM/MIN/MAX/AVG over a numeric
    * column (or COUNT(*)), and every WHERE-referenced column scalar —
    * or a SELECT DISTINCT of plain scalar columns, which plans as a
    * grouping with no aggregation. Mirrors exactly what
    * [[graft.plans.StarTreeRoutingRule]] can rewrite, so prediction
    * and plan behavior can be equated in tests. */
  private def routableNeed(q: Pql.Query, scalarCols: Set[String],
      numericCols: Set[String]): Option[(Set[String], Set[String])] = {
    if (q.having.nonEmpty) return None
    val whereCols = q.where.map(predCols).getOrElse(Set.empty)
    if (q.distinct) {
      val dims = q.select.map {
        case Pql.Ident(n) => n
        case _ => return None
      }.toSet ++ whereCols
      return if (dims.subsetOf(scalarCols)) Some((dims, Set.empty)) else None
    }
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
    val dims = gcols.toSet ++ whereCols
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
      fields.filter(f => f.dataType.isInstanceOf[NumericType] &&
        !f.dataType.isInstanceOf[DecimalType]).map(_.name).toSet)
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

  /** The workloads star-trees are mined for, each on its own: the
    * generated lines the gate rows replay
    * ([[graft.queries.CorpusQueries.generatedGateLines]]), then every
    * corpus line where the corpus file exists. */
  private def miningWorkloads(): Seq[Seq[OnTimeCorpus.Line]] =
    graft.queries.CorpusQueries.generatedGateLines +:
      (if (OnTimeCorpus.corpusPresent) Seq(OnTimeCorpus.corpus) else Nil)

  /** Mine star-tree configs for the harness workloads
    * ([[miningWorkloads]]), up to [[MaxTrees]] trees per workload: the
    * generated lines' trees come first and do not depend on whether the
    * corpus exists, and since a tree can only add routes, the
    * generated gate rows route at least as many lines where it does.
    * Trees of one dimension set merge into one (the registry keeps one
    * index per set). Deterministic: the workloads and schema are fixed
    * inputs. */
  def starTreeSpecs(fx: Fixture): Seq[TreeSpec] = {
    val mined = miningWorkloads().flatMap(ls => mineTrees(minedNeeds(fx, ls).map(_._2)))
    mined.map(_.dims.toSet).distinct.map { ds =>
      val same = mined.filter(_.dims.toSet == ds)
      TreeSpec(same.head.dims, same.flatMap(_.metrics).distinct.sorted, same.map(_.minedCover).sum)
    }
  }

  /** Greedy set cover over one workload's routable needs: each round
    * seeds a dimension set with the first uncovered line's dimensions,
    * grows it (preferring the column that completes the most
    * one-dim-short lines, then the most-demanded column), takes every
    * still-uncovered line it can answer, and declares the union of
    * their aggregation columns as the tree's metrics. Ties break on
    * column name. The generator and the corpus both draw columns
    * uniformly from an ~80-column schema, so no small tree family
    * covers everything — the point is a sizable, *predictable* routed
    * subset whose answers must be bit-identical to the scan plans. */
  private def mineTrees(needs: Seq[(Set[String], Set[String])]): Seq[TreeSpec] = {
    var remaining = needs.filter(_._1.size <= MaxDims)
    val out = Seq.newBuilder[TreeSpec]
    var t = 0
    while (t < MaxTrees && remaining.nonEmpty) {
      // seeded with the first uncovered line, so every tree covers one
      var dims = remaining.head._1
      var d = dims.size
      while (d < MaxDims) {
        // a line cannot be covered once one of its metrics is a
        // dimension, so only lines that still can be vote: none of
        // their metrics is a dimension, and none of their dimensions
        // is a metric of a line the tree already covers
        val open = remaining.filterNot(_._2.exists(dims.contains))
        val kept = open.filter(_._1.subsetOf(dims)).flatMap(_._2).toSet
        val gain = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        val freq = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        open.filterNot(_._1.exists(kept)).foreach { case (ds, _) =>
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
          case None => d = MaxDims
        }
      }
      def coveredBy(n: (Set[String], Set[String])): Boolean =
        n._1.subsetOf(dims) && !n._2.exists(dims.contains)
      val cov = remaining.filter(coveredBy)
      out += TreeSpec(dims.toSeq.sorted, cov.flatMap(_._2).distinct.sorted, cov.size)
      remaining = remaining.filterNot(coveredBy)
      t += 1
    }
    out.result()
  }

  /** Ids of the `lines` whose shape the star-tree rule can rewrite
    * ([[routableNeed]]), whether or not a built tree covers them. */
  def starTreeEligibleIds(fx: Fixture, lines: Seq[OnTimeCorpus.Line]): Set[Int] =
    minedNeeds(fx, lines).map(_._1).toSet

  /** Ids of the `lines` the mining model predicts WILL route given the
    * built trees — equated with the plans' [[Route]]s in
    * CorpusStarTreeSpec. */
  def predictedRoutedIds(fx: Fixture, specs: Seq[TreeSpec],
      lines: Seq[OnTimeCorpus.Line]): Set[Int] =
    minedNeeds(fx, lines).collect {
      case (id, need) if specs.exists(_.covers(need)) => id
    }.toSet

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

  /** One line under one layout: whether its PQL answer matched the
    * hsql twin, and what its plan read. */
  final case class Outcome(id: Int, matched: Boolean, mode: String, reason: String,
      route: Route = Route.Neither)

  /** Every line PQL-vs-hsql under every layout in `layouts`: each line
    * is parsed and its hsql twin collected ONCE, then each layout's PQL
    * answer is checked against that twin, and its [[Route]] read from
    * the plan that answered. Lines run on the driver pool under the
    * micro-query confs; outcomes keep `lines` order. */
  def compare(spark: SparkSession, lines: Seq[OnTimeCorpus.Line],
      layouts: Seq[Layout]): Map[Layout, Seq[Outcome]] = {
    val fx = fixture(spark)
    val perLine = withLayouts(spark, layouts) { tables =>
      parMap(spark, lines)(l => compareLine(spark, fx, l, layouts.zip(tables)))
    }
    layouts.zipWithIndex.map { case (layout, i) => layout -> perLine.map(_(i)) }.toMap
  }

  /** One outcome per layout: the twin is collected first, then each
    * layout's PQL answer checked against it. A line that does not parse
    * or whose twin fails is an error under every layout. */
  private def compareLine(spark: SparkSession, fx: Fixture, line: OnTimeCorpus.Line,
      tables: Seq[(Layout, DataFrame)]): Seq[Outcome] = {
    def error(e: Exception) = Outcome(line.id, matched = false, "error",
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    try {
      val q = Pql.parse(line.pql)
      val selAggs = q.select.filter(Pql.isAggExpr)
      val check: DataFrame => Outcome =
        if (selAggs.nonEmpty && q.groupBy.isEmpty) aggOnlyCheck(spark, line, selAggs)
        else if (q.groupBy.nonEmpty) groupByCheck(spark, line, q, selAggs)
        else selectionCheck(spark, fx, line, q)
      tables.map { case (layout, t) =>
        try {
          val df = Pql.toDataFrame(q, _ => t)
          // every check collects `df` itself, so its execution reuses
          // the optimized plan the route was read from
          val route = layout.route(df)
          check(df).copy(route = route)
        } catch { case e: Exception => error(e) }
      }
    } catch { case e: Exception => tables.map(_ => error(e)) }
  }

  private def aggOnlyCheck(spark: SparkSession, line: OnTimeCorpus.Line,
      selAggs: Seq[Pql.Expr]): DataFrame => Outcome = {
    require(line.hsqls.length == selAggs.length,
      s"hsql count ${line.hsqls.length} != aggregation count ${selAggs.length}")
    val expected = line.hsqls.map(h => toDouble(spark.sql(h).head().get(0)))
    // a method, not a lambda: its early returns must return from it
    def check(pqlDf: DataFrame): Outcome = {
      val row = pqlDf.collect().head // one row: a global aggregation
      var i = 0
      while (i < selAggs.length) {
        val actual = toDouble(row.get(i))
        val isCount = selAggs(i) match {
          case Pql.Func(n, _) => n == "count"
          case _ => false
        }
        (expected(i), actual) match {
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
    check
  }

  private def groupByCheck(spark: SparkSession, line: OnTimeCorpus.Line,
      q: Pql.Query, selAggs: Seq[Pql.Expr]): DataFrame => Outcome = {
    require(line.hsqls.length == selAggs.length,
      s"hsql count ${line.hsqls.length} != aggregation count ${selAggs.length}")
    val nKeys = q.groupBy.length
    def key(r: Row): String = (0 until nKeys).map(k => canon(r.get(k))).mkString("\u0001")
    // per aggregation: group key -> H2 value, or None when H2 hit the
    // row cap (the reference then skips the comparison)
    val twins: Seq[Option[Map[String, Any]]] = line.hsqls.map { h =>
      val h2Rows = spark.sql(h).collect()
      if (h2Rows.length >= MaxRowsToCompare) None
      else Some(h2Rows.map(r => key(r) -> r.get(nKeys)).toMap)
    }
    def check(pqlDf: DataFrame): Outcome = {
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
        val expected = twins(i) match {
          case Some(m) => m
          case None => return Outcome(line.id, matched = true, "groupby", "skipped: H2 not exhausted")
        }
        if (expected.isEmpty) {
          if (pqlRows.nonEmpty)
            return Outcome(line.id, matched = false, "groupby",
              s"agg $i: H2 returned no groups but engine returned ${pqlRows.length}")
        } else {
          // containment: TOP trims the engine side (ref lines 631-660)
          for (r <- pqlRows) {
            val k = key(r)
            expected.get(k) match {
              case None =>
                return Outcome(line.id, matched = false, "groupby",
                  s"agg $i: group [$k] returned by engine but absent in H2")
              case Some(h2v) =>
                val e = toDouble(h2v)
                val a = toDouble(r.get(nKeys + i))
                if (e.isDefined != a.isDefined || e.exists(ev => !fuzzyEq(a.get, ev)))
                  return Outcome(line.id, matched = false, "groupby",
                    s"agg $i group [$k]: expected $h2v got ${r.get(nKeys + i)}")
            }
          }
        }
        i += 1
      }
      Outcome(line.id, matched = true, "groupby", "")
    }
    check
  }

  private def selectionCheck(spark: SparkSession, fx: Fixture,
      line: OnTimeCorpus.Line, q: Pql.Query): DataFrame => Outcome = {
    val mvCols = fx.mv.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] => f.name.toLowerCase
    }.toSet
    val isMv = q.select.map {
      case Pql.Ident(n) => mvCols.contains(n.toLowerCase)
      case _ => false
    }
    val h2Rows = spark.sql(line.hsqls.head).collect()
    if (h2Rows.length >= MaxRowsToCompare)
      return _ => Outcome(line.id, matched = true, "selection", "skipped: H2 not exhausted")

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
    def check(pqlDf: DataFrame): Outcome = {
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
    check
  }

  // ---- driver pool --------------------------------------------------------

  /** Micro-query regime for the harness only: the fixture is a few
    * thousand cached rows, so AQE's stage-by-stage resubmission and
    * multi-partition exchanges cost more than the queries themselves
    * (measured ~100× on the full sweep). */
  private val MicroQueryConfs = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.adaptive.enabled" -> "false")

  /** `f` over `items` on a pool of [[Parallelism]] driver threads under
    * [[MicroQueryConfs]], results in `items` order. Each item is a
    * handful of tiny jobs over the cached fixture, so per-job
    * scheduling latency, not compute, is the bottleneck; concurrent
    * submission overlaps it. The session confs are restored afterwards
    * — safe because harness entry points run single-caller. */
  private def parMap[A, B](spark: SparkSession, items: Seq[A])(f: A => B): Seq[B] = {
    val saved = MicroQueryConfs.map { case (k, _) => k -> spark.conf.get(k) }
    MicroQueryConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val pool = Executors.newFixedThreadPool(Parallelism)
    try items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) })).map(_.get())
    finally {
      pool.shutdown()
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  // ---- line sets and self-oracles ---------------------------------------

  /** Deterministic sample: every `step`-th line id. */
  def sampleIds(step: Int): Seq[Int] = 0 until 10000 by step

  /** The corpus lines with these ids, in `ids` order. Reads the corpus
    * file, so a missing file fails with its path. */
  def corpusLines(ids: Seq[Int]): Seq[OnTimeCorpus.Line] = {
    val byId = OnTimeCorpus.corpus.map(l => l.id -> l).toMap
    ids.map(byId)
  }

  /** The aggregation-only lines (no GROUP BY, every select item an
    * aggregation) of `lines`, in order: scalar results, exact DuckDB
    * oracle material. Spark-free, so oracles built from it stay static
    * contracts. */
  def aggOnly(lines: Seq[OnTimeCorpus.Line]): Seq[OnTimeCorpus.Line] =
    lines.filter { l =>
      val q = try Some(Pql.parse(l.pql)) catch { case _: IllegalArgumentException => None }
      q.exists(p => p.groupBy.isEmpty && p.select.nonEmpty && p.select.forall(Pql.isAggExpr))
    }

  /** Static self-oracle of a gate row: every (line id, layout) cell,
    * all expected to match — a mismatch in ANY cell flips its `matched`
    * and fails the DuckDB oracle compare. */
  def selfOracle(ids: Seq[Int], layouts: Seq[Layout]): String = {
    val values = (for (i <- ids; l <- layouts) yield s"($i, '${l.name}')").mkString(",")
    s"SELECT line_id, layout, TRUE AS matched FROM (VALUES $values) t(line_id, layout) " +
      "ORDER BY line_id, layout"
  }

  // ---- DuckDB-valued slices ---------------------------------------------

  /** PQL-side frame of a DuckDB-checked aggregation slice: one row per
    * (line_id, agg_idx) with the aggregation value rounded to 6 places
    * — the oracle ([[duckOracle]]) runs the paired hsqls in DuckDB over
    * the parquet dump of the same synthesized table. */
  def duckSlice(spark: SparkSession, lines: Seq[OnTimeCorpus.Line]): DataFrame = {
    val fx = fixture(spark)
    import spark.implicits._
    val slice: Seq[(Int, Int, java.lang.Double)] = parMap(spark, lines) { l =>
      val q = Pql.parse(l.pql)
      val row = Pql.toDataFrame(q, _ => fx.mv).head()
      q.select.indices.map { i =>
        val v: java.lang.Double = toDouble(row.get(i))
          .map(d => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .map(Double.box).orNull
        (l.id, i, v)
      }
    }.flatten
    slice.toDF("line_id", "agg_idx", "value")
      .orderBy("line_id", "agg_idx")
  }

  /** An hsql as DuckDB runs it: reading the flat parquet dump (`{OUT}`
    * is substituted by Verify with the output dir at dump time), with
    * Spark's `regexp_like` renamed to DuckDB's `regexp_matches` (same
    * partial-match semantics) and Spark's exact `percentile` to
    * DuckDB's `quantile_cont` (same (n−1)·q linear interpolation).
    * Generated lines carry both names; fixed-corpus hsqls neither. */
  private def duckSql(hsql: String): String =
    hsql.replaceAll("(?i)\\bFROM\\s+mytable\\b",
        "FROM read_parquet('{OUT}_aux/corpus_flat_parquet/*.parquet')")
      .replaceAll("(?i)\\bregexp_like\\(", "regexp_matches(")
      .replaceAll("(?i)\\bpercentile\\(", "quantile_cont(")

  /** DuckDB oracle SQL for [[duckSlice]] over the same lines. */
  def duckOracle(lines: Seq[OnTimeCorpus.Line]): String = {
    val parts = lines.flatMap { l =>
      l.hsqls.zipWithIndex.map { case (h, i) =>
        s"SELECT ${l.id} AS line_id, $i AS agg_idx, round(CAST((${duckSql(h)}) AS DOUBLE), 6) AS value"
      }
    }
    parts.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY line_id, agg_idx")
  }

  /** PQL-side frame of a DuckDB-checked selection slice (lines from
    * [[QueryGenB.duckSelLines]]): one row per returned selection row,
    * every projected cell canonicalized to VARCHAR and padded to 3
    * columns so heterogeneous projections share one schema. Row sets
    * are exact (DISTINCT + total ORDER BY + LIMIT), so the oracle
    * compare is a strict equality check against DuckDB running
    * the same statement over the flat dump. Driver-side collect
    * bounded by lines × LIMIT ≤ 30 rows. */
  def duckSelSlice(spark: SparkSession, lines: Seq[OnTimeCorpus.Line]): DataFrame = {
    val fx = fixture(spark)
    import spark.implicits._
    val rows: Seq[(Int, String, String, String)] = parMap(spark, lines) { l =>
      Pql.toDataFrame(Pql.parse(l.pql), _ => fx.mv).collect().toSeq.map { r =>
        val cells = (0 until r.length).map(i => String.valueOf(r.get(i))).padTo(3, "")
        (l.id, cells(0), cells(1), cells(2))
      }
    }.flatten
    rows.toDF("line_id", "c0", "c1", "c2")
      .orderBy("line_id", "c0", "c1", "c2")
  }

  /** DuckDB oracle for [[duckSelSlice]]: each statement over the flat
    * parquet dump, cells CAST to VARCHAR and padded, matching the PQL
    * side's canonicalization. */
  def duckSelOracle(lines: Seq[OnTimeCorpus.Line]): String = {
    val parts = lines.map { l =>
      // project the inner statement's columns by name as c0..c2
      val names = Pql.parse(l.pql).select.map {
        case Pql.Ident(n) => n
        case other => throw new IllegalStateException(
          s"duck selections project plain columns only, got $other")
      }
      val cells = (0 until 3).map { i =>
        if (i < names.length) s"CAST(${names(i)} AS VARCHAR) AS c$i"
        else s"'' AS c$i"
      }
      s"SELECT ${l.id} AS line_id, ${cells.mkString(", ")} FROM (${duckSql(l.hsqls.head)}) t"
    }
    parts.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY line_id, c0, c1, c2")
  }
}
