package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.exprs

/** Dictionary-encoded dimension layout — the Spark-native analogue of
  * the reference's dictionary-encoded forward index (every Pinot
  * column is dictionary-encoded by default:
  * `segment/index/column/ColumnIndexContainer` + the sorted dictionary
  * in `segment/index/readers/ImmutableDictionaryReader.java`; group-by
  * and filters run on dict ids, values materialize only at result
  * assembly — `DictionaryBasedGroupKeyGenerator`,
  * `predicate/EqualsPredicateEvaluatorFactory`).
  *
  * Here the ingest side ([[DictLayout.build]]) writes a segment copy
  * where each declared dimension column `c` is replaced by an int
  * `c__did` (id = rank in the SORTED distinct-value dictionary), and
  * the query side ([[DictRoutingRule]]) rewrites any `Aggregate` over
  * the registered raw table onto the encoded copy:
  *
  *  - group-by keys on dict columns become the int id column — the
  *    aggregation hash map keys on ints instead of UTF8Strings (the
  *    measured constant dominating low-cardinality string group-bys at
  *    10^8 rows), and values decode per GROUP at output via
  *    [[graft.functions.exprs.DictDecode]] (O(1) array lookup);
  *  - EQ / IN / range / null predicates on dict columns translate to
  *    id space (the sorted dictionary makes a value range an id
  *    range — the reference's sorted-dictionary PredicateEvaluator),
  *    which also reaches the parquet scan as an int filter;
  *  - any OTHER expression over a dict column stays correct through a
  *    per-row decode fallback, so the rewrite never bails on exotic
  *    predicates (LIKE, functions of the column) — it just doesn't
  *    speed them up.
  *
  * Scale: dictionaries are per-column `Array[UTF8String]` capped at
  * [[DictLayout.MaxCardinality]] entries — the layout is FOR
  * low-cardinality dimensions (the reference similarly holds
  * dictionaries on-heap per segment). The decode array rides the
  * serialized plan to executors like any broadcast literal; at 1000
  * executors that is one ≤ a-few-MB array per dict column, not a
  * per-row cost. High-cardinality columns must not be declared — the
  * build throws past the cap instead of silently producing a layout
  * that ships a giant array with every query.
  *
  * Staleness contract: the encoded copy is an INGEST ARTIFACT (like
  * the star-tree rollup) — it must be rebuilt when the raw segment
  * changes; registration is explicit and session-scoped.
  */
object DictLayout {

  /** Hard cap on per-column dictionary cardinality (1M entries).  */
  final val MaxCardinality: Int = 1 << 20

  /** Hard cap on a single column's total dictionary VALUE bytes
    * (64 MB): the decode array serializes with every routed plan, so
    * driver heap and plan size must stay bounded even when the entry
    * count is under [[MaxCardinality]]. */
  final val MaxDictBytes: Long = 64L << 20

  final case class Index(
      pathPrefix: String,
      encoded: DataFrame,
      dicts: Map[String, Array[UTF8String]]) {
    /** Binary-search a literal into id space; None when absent. */
    def idOf(column: String, value: UTF8String): Option[Int] = {
      val idx = java.util.Arrays.binarySearch(
        dicts(column).asInstanceOf[Array[AnyRef]], value)
      if (idx < 0) None else Some(idx)
    }
    /** First id whose value is ≥ (or, strict, >) the literal — the
      * insertion point in the sorted dictionary, = array length when
      * every value is smaller. */
    def lowerBound(column: String, value: UTF8String, strict: Boolean): Int = {
      val arr = dicts(column)
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = arr(mid).compareTo(value)
        if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Build the encoded segment copy + dictionaries for `dictCols`
    * (StringType columns) of the fact table at `factPath`, writing the
    * copy to `encodedPath`, and return the registry entry (caller
    * registers it). One distinct-aggregate per dict column (dimension
    * cardinality ≪ rows, so each is a cheap partial-agg shuffle) and
    * ONE full read/write of the fact for the encoding pass. */
  def build(spark: SparkSession, fact: DataFrame, factPath: String,
      encodedPath: String, dictCols: Seq[String],
      layoutBy: Seq[String] = Nil): Index = {
    require(dictCols.nonEmpty, "dictCols must be non-empty")
    dictCols.foreach { c =>
      val f = fact.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      require(f.dataType == StringType,
        s"dictionary layout covers StringType dimensions; $c is ${f.dataType}")
    }
    val dicts: Map[String, Array[UTF8String]] = dictCols.map { c =>
      val values = fact.select(col(c)).na.drop().distinct()
        .limit(MaxCardinality + 1).collect()
        .map(r => UTF8String.fromString(r.getString(0)))
      require(values.length <= MaxCardinality,
        s"$c exceeds the $MaxCardinality-entry dictionary cap — " +
          "not a low-cardinality dimension; do not dictionary-encode it")
      // sort in UTF8String BINARY order (UTF-8 byte compare), the same
      // comparator DictId's binarySearch, Index.idOf/lowerBound, and
      // Spark's string sort all use — Java String order (UTF-16 code
      // units) disagrees for supplementary-plane vs high-BMP values
      // (emoji sort AFTER U+E000..U+FFFF in UTF-16, BEFORE in UTF-8),
      // which would silently mis-encode at build and mis-order routed
      // ORDER BY
      // size-in-bytes cap alongside the entry cap: the decode array
      // rides every routed plan, so a mis-declared column with few but
      // HUGE values must fail at build, not bloat every query
      val bytes = values.foldLeft(0L)(_ + _.numBytes())
      require(bytes <= MaxDictBytes,
        s"$c dictionary is $bytes bytes (cap $MaxDictBytes) — " +
          "values too large for a per-plan decode array; do not dictionary-encode it")
      java.util.Arrays.sort(values.asInstanceOf[Array[AnyRef]])
      c -> values
    }.toMap
    val encodedCols = fact.schema.fields.map { f =>
      if (dicts.contains(f.name)) {
        val id = GraftSqlBridge.column(exprs.DictId(
          GraftSqlBridge.expression(col(f.name)), dicts(f.name)))
        // a NON-NULL source column must produce a NON-NULL code column:
        // DictId is nullable (miss → null), which would add definition
        // levels to every parquet page the raw column didn't have. A
        // miss is impossible at build (the dictionary came from this
        // exact frame), so the coalesce sentinel never materializes —
        // and if a bug ever produced one, decode would fail loudly
        // (array index -1) instead of silently shipping wrong values.
        val stored =
          if (f.nullable) id
          else org.apache.spark.sql.functions.coalesce(id,
            org.apache.spark.sql.functions.lit(-1))
        stored.as(f.name + "__did")
      } else col(f.name)
    }
    // `layoutBy`: ALSO range-partition + sort the encoded copy on the
    // given (non-dict) columns, so [[graft.sources.SortedLayout]]
    // detects the encoded copy as a sorted layout too — the composed
    // page: [[DictRoutingRule]]'s selection rewrite, then
    // [[SortedPageRule]]'s file cut over the encoded copy. Without it,
    // the narrow select-write packs input splits by size and destroys
    // per-file range disjointness.
    val encoded0 = fact.select(encodedCols.toIndexedSeq: _*)
    val encoded1 =
      if (layoutBy.isEmpty) encoded0
      else encoded0
        .repartitionByRange(math.max(fact.inputFiles.length, 8),
          layoutBy.map(col): _*)
        .sortWithinPartitions(layoutBy.map(col): _*)
    encoded1.write.mode("overwrite").parquet(encodedPath)
    // persist the dictionaries INSIDE the segment dir under an
    // underscore prefix (parquet readers skip `_`/`.` paths, like
    // _SUCCESS) so the artifact is self-contained and re-loadable
    import spark.implicits._
    dicts.foreach { case (c, values) =>
      values.zipWithIndex.map { case (v, i) => (i, v.toString) }
        .toSeq.toDF("id", "value")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$encodedPath/_dicts/$c")
    }
    Index(factPath, spark.read.parquet(encodedPath), dicts)
  }

  /** Re-open a previously [[build]]-written encoded segment: reads the
    * persisted `_dicts/<col>` tables back into sorted arrays. */
  def load(spark: SparkSession, factPath: String, encodedPath: String): Index = {
    val dictRoot = new java.io.File(encodedPath, "_dicts")
    val cols = Option(dictRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName)
    require(cols.nonEmpty, s"no dictionaries under $encodedPath/_dicts")
    val dicts = cols.map { c =>
      val rows = spark.read.parquet(s"$encodedPath/_dicts/$c")
        .orderBy(col("id")).collect()
      val arr = new Array[UTF8String](rows.length)
      rows.foreach(r => arr(r.getInt(0)) = UTF8String.fromString(r.getString(1)))
      c -> arr
    }.toMap
    Index(factPath, spark.read.parquet(encodedPath), dicts)
  }
}

/** Session-scoped registry mapping raw-table scan roots to their
  * dictionary-encoded copies, over the [[PathRegistry]] matcher
  * [[StarTreeRegistry]] uses. */
object DictRegistry {
  private val entries = new PathRegistry[DictLayout.Index]

  def register(path: String, index: DictLayout.Index): Unit = entries.update(path)(_ => index)
  def unregister(path: String): Unit = entries.remove(path)
  def clear(): Unit = entries.clear()
  def isEmpty: Boolean = entries.isEmpty

  /** EXACT normalized-path match only — the selection rewrite's
    * lookup. A selection over a file SUBSET of a registered table (a
    * frame a user built over some of its files, or a page
    * [[SortedPageRule]] already cut) must NOT route back onto the full
    * encoded copy: the subset read is the smaller plan and the prefix
    * match would hijack it. The composed page needs no exception:
    * the dictionary rewrite runs on the table's own root, before
    * [[SortedPageRule]] cuts the encoded copy. An aggregate has no such
    * pruned-subset producer, so [[lookup]] keeps the prefix contract
    * there. */
  def lookupExact(rootPath: String): Option[DictLayout.Index] = entries.exact(rootPath)

  /** Longest normalized prefix match at a path-segment boundary. */
  def lookup(rootPath: String): Option[DictLayout.Index] = entries.longestPrefix(rootPath)
}

/** The query-side rewrite: an `Aggregate` (grouped or global) or an
  * ordered SELECTION (`Sort`, typically under LIMIT/OFFSET) over a
  * registered raw table routes onto the dictionary-encoded copy. Runs
  * AFTER [[StarTreeRoutingRule]] in the injected rule order, so a
  * star-tree answer (full pre-aggregation) wins over a dictionary
  * answer (encoded scan) when both are registered.
  *
  * The selection rewrite is the reference's forward-index read path
  * for selection queries (`core/operator/query/SelectionOrderByOperator.java`
  * heap-selects doc ids; `core/query/selection/SelectionOperatorService.java`
  * / `SelectionOperatorUtils.java` assemble result rows — dictionary
  * lookups — only for the rows that survived): the scan and filter
  * run entirely in id space, the sort keys
  * on dict columns compare ids (sorted dictionary ⇒ id order ≡ value
  * order, null ids iff null values), and values materialize in a
  * `Project` placed directly above the rewritten `Sort` — exactly
  * where `TakeOrderedAndProjectExec` applies its projection, i.e.
  * AFTER the top-K heap discarded all but LIMIT rows. A 100M-row page
  * query decodes `size` strings, not 100M. */
case class DictRoutingRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (DictRegistry.isEmpty) return plan
    var rewrote = false
    val routed = plan.transformDown {
      case agg @ Aggregate(groupings, aggExprs, IndexedScan(cond, roots), _)
          if groupings.forall(_.isInstanceOf[AttributeReference]) =>
        roots.headOption.flatMap(DictRegistry.lookup).flatMap { idx =>
          rewrite(agg, groupings.map(_.asInstanceOf[AttributeReference]),
            aggExprs, cond, idx)
        }.map { r => rewrote = true; r }.getOrElse(agg)
      // a selection requires its ONE scan root to match a registered
      // path EXACTLY: a pruned file-subset read (the sorted layout's
      // ordered page) must keep its pruning
      case sort @ Sort(_, true, child @ IndexedScan(cond, Seq(root)), _) =>
        DictRegistry.lookupExact(root).flatMap { idx =>
          rewriteSelection(sort, child.output.map(_.asInstanceOf[AttributeReference]),
            cond, idx)
        }.map { r => rewrote = true; r }.getOrElse(sort)
    }
    // The selection rewrite's restore Project lands directly above the
    // rewritten Sort; when the query carried its OWN Project there
    // (computed output columns), the stack is now two Projects deep
    // and the planner's Limit(Project(Sort)) pattern no longer fuses
    // into TakeOrderedAndProject — Spark's CollapseProject already ran
    // in the main batches, so re-apply it to the routed plan.
    if (rewrote)
      org.apache.spark.sql.catalyst.optimizer.CollapseProject(routed)
    else plan
  }

  /** The id-space translation helpers shared by the aggregate and
    * selection rewrites, bound to one encoded copy's analyzed plan. */
  private final class Translator(val idx: DictLayout.Index) {
    // fresh exprIds PER SPLICE: a query referencing the registered
    // table twice (self-join of two routed aggregates) must not end up
    // with duplicate attribute ids on both sides — each rewrite call
    // constructs its own Translator, and newInstance() re-aliases the
    // relation's output (the byName map below is built from the fresh
    // instance, so every translated reference binds to it)
    val encodedPlan: LogicalPlan =
      idx.encoded.queryExecution.analyzed.transform {
        case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
          m.newInstance().asInstanceOf[LogicalPlan]
      }
    val byName: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute] =
      encodedPlan.output.map(a => a.name -> a).toMap
    def codeAttr(c: String): Option[org.apache.spark.sql.catalyst.expressions.Attribute] =
      byName.get(c + "__did")
    def isDict(c: String): Boolean = idx.dicts.contains(c)

    /** Every raw column name must exist in the encoded copy (schema
      * drift between raw and encoded → no route). */
    def covers(names: Seq[String]): Boolean = names.forall(n =>
      if (isDict(n)) codeAttr(n).isDefined else byName.contains(n))

    /** Decode fallback: correct for ANY use of a dict column. */
    def remapAttr(ar: AttributeReference): Expression =
      if (isDict(ar.name)) exprs.DictDecode(codeAttr(ar.name).get, idx.dicts(ar.name))
      else byName(ar.name)

    def remap(e: Expression): Expression = e.transformDown {
      case ar: AttributeReference => remapAttr(ar)
    }

    def idEq(c: String, v: UTF8String): Expression =
      EqualTo(codeAttr(c).get, Literal(idx.idOf(c, v).getOrElse(-1)))

    /** Predicate translation to id space: EQ/IN/range/null on a dict
      * column compare the int id (sorted dictionary → value range ≡ id
      * range); everything else falls back to the per-row decode.
      * An absent EQ/IN literal translates to `id IN (-1)` — false for
      * present rows, null for null rows, exactly the raw semantics. */
    def xlate(c: Expression): Expression = c.transformDown {
      case EqualTo(ar: AttributeReference, Literal(v: UTF8String, StringType))
          if isDict(ar.name) => idEq(ar.name, v)
      case EqualTo(Literal(v: UTF8String, StringType), ar: AttributeReference)
          if isDict(ar.name) => idEq(ar.name, v)
      case In(ar: AttributeReference, list) if isDict(ar.name) &&
          list.forall { case Literal(_: UTF8String, StringType) => true; case _ => false } =>
        val ids = list.collect { case Literal(v: UTF8String, StringType) =>
          idx.idOf(ar.name, v) }.flatten
        val inList = if (ids.isEmpty) Seq(Literal(-1)) else ids.map(i => Literal(i))
        In(codeAttr(ar.name).get, inList)
      case GreaterThan(ar: AttributeReference, Literal(v: UTF8String, StringType))
          if isDict(ar.name) =>
        GreaterThanOrEqual(codeAttr(ar.name).get,
          Literal(idx.lowerBound(ar.name, v, strict = true)))
      case GreaterThanOrEqual(ar: AttributeReference, Literal(v: UTF8String, StringType))
          if isDict(ar.name) =>
        GreaterThanOrEqual(codeAttr(ar.name).get,
          Literal(idx.lowerBound(ar.name, v, strict = false)))
      case LessThan(ar: AttributeReference, Literal(v: UTF8String, StringType))
          if isDict(ar.name) =>
        LessThan(codeAttr(ar.name).get,
          Literal(idx.lowerBound(ar.name, v, strict = false)))
      case LessThanOrEqual(ar: AttributeReference, Literal(v: UTF8String, StringType))
          if isDict(ar.name) =>
        LessThan(codeAttr(ar.name).get,
          Literal(idx.lowerBound(ar.name, v, strict = true)))
      case IsNull(ar: AttributeReference) if isDict(ar.name) =>
        IsNull(codeAttr(ar.name).get)
      case IsNotNull(ar: AttributeReference) if isDict(ar.name) =>
        IsNotNull(codeAttr(ar.name).get)
      case ar: AttributeReference => remapAttr(ar)
    }

    /** EXPLICIT column pruning: this rule runs in the user-provided
      * optimizer batch, AFTER Spark's ColumnPruning pass — a bare
      * spliced-in relation would scan every column of the encoded copy
      * (measured 0.4 → 1.1 s on a one-column group-by at 100M rows).
      * Projecting exactly the needed encoded columns restores the
      * pruned scan; FileSourceStrategy then reads only these. */
    def prunedScan(neededEncodedNames: Set[String]): LogicalPlan =
      Project(encodedPlan.output.filter(a => neededEncodedNames.contains(a.name)),
        encodedPlan)
  }

  private def rewrite(agg: Aggregate, groupAttrs: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression], cond: Option[Expression],
      idx: DictLayout.Index): Option[LogicalPlan] = {
    val t = new Translator(idx)
    val referenced = (aggExprs ++ groupAttrs ++ cond.toSeq)
      .flatMap(_.references.toSeq).map(_.name).distinct
    if (!t.covers(referenced)) return None

    val neededNames = referenced.map(n => if (t.isDict(n)) n + "__did" else n).toSet
    val prunedScan = t.prunedScan(neededNames)

    val newGroupings: Seq[Expression] = groupAttrs.map { ar =>
      if (t.isDict(ar.name)) t.codeAttr(ar.name).get else t.byName(ar.name)
    }
    val groupIds = groupAttrs.map(_.exprId).toSet
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case ar: AttributeReference if groupIds.contains(ar.exprId) =>
        Alias(t.remapAttr(ar), ar.name)(exprId = ar.exprId)
      case al @ Alias(body, name) =>
        Alias(t.remap(body), name)(exprId = al.exprId)
      case other => return None
    }
    val newChild = cond match {
      case Some(c) => Filter(t.xlate(c), prunedScan)
      case None => prunedScan
    }
    Some(agg.copy(groupingExpressions = newGroupings,
      aggregateExpressions = newAggExprs, child = newChild))
  }

  /** Ordered-selection rewrite: `Sort` (global) over
    * [Project][Filter]Relation becomes
    * `Project(decode-restore, Sort(id-keys, Filter(id-pred, pruned
    * encoded scan)))`. The restore Project aliases every original
    * output attribute (original exprIds, so enclosing LIMIT/OFFSET
    * nodes are untouched); dict columns decode via the O(1) array
    * lookup, and because `Limit(Project(Sort))` is exactly the
    * `TakeOrderedAndProjectExec` pattern, that decode runs on the
    * LIMIT rows only. */
  private def rewriteSelection(sort: Sort, outAttrs: Seq[AttributeReference],
      cond: Option[Expression], idx: DictLayout.Index): Option[LogicalPlan] = {
    val t = new Translator(idx)
    val referenced = (outAttrs ++ cond.toSeq.flatMap(_.references.toSeq) ++
      sort.order.flatMap(_.references.toSeq)).map(_.name).distinct
    if (!t.covers(referenced)) return None

    val newOrder = sort.order.map { so =>
      val mapped = so.child match {
        case ar: AttributeReference if t.isDict(ar.name) => t.codeAttr(ar.name).get
        case ar: AttributeReference => t.byName(ar.name)
        case other => t.remap(other)
      }
      SortOrder(mapped, so.direction, so.nullOrdering, Seq.empty)
    }
    val xlated = cond.map(t.xlate)
    val restore: Seq[NamedExpression] = outAttrs.map { a =>
      val body =
        if (t.isDict(a.name)) exprs.DictDecode(t.codeAttr(a.name).get, idx.dicts(a.name))
        else t.byName(a.name)
      Alias(body, a.name)(exprId = a.exprId)
    }
    val needed = (newOrder.flatMap(_.references.toSeq) ++
      xlated.toSeq.flatMap(_.references.toSeq) ++
      restore.flatMap(_.references.toSeq)).map(_.name).toSet
    val scan = t.prunedScan(needed)
    val filtered = xlated.map(Filter(_, scan)).getOrElse(scan)
    Some(Project(restore, Sort(newOrder, global = true, filtered)))
  }
}
