package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Divide, EqualTo, EvalMode, Expression, HllSketchEstimate, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, HllSketchAgg, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic star-tree routing as a Catalyst optimizer rule — the
  * query-side half of [[StarTree]].
  *
  * The reference rewrites eligible queries to read the star-tree
  * instead of raw docs inside its plan maker
  * (`BrokerRequestPreProcessor.java:50-81` swaps DISTINCTCOUNTHLL and
  * FASTHLL onto a derived HLL column;
  * star-tree selection in `plan/StarTreeIndexOperator`); the Spark
  * analogue is a `Rule[LogicalPlan]` injected through
  * `SparkSessionExtensions`: an `Aggregate` whose grouping keys are a
  * subset of a registered index's dimensions and whose aggregates are
  * all tree-mergeable (SUM/MIN/MAX/COUNT/AVG over indexed metrics,
  * COUNT(*), distinct-count estimates a stored sketch is accurate
  * enough for) over the indexed fact relation is
  * replaced by a scan of the pre-aggregated rollup slice — same
  * results, no fact scan. A dimension-only WHERE between the
  * aggregate and the scan routes too: the filter re-applies over the
  * (group ∪ filter)-dim slice and the surviving pre-aggregated rows
  * merge back down to the query's groups — the reference's star-tree
  * query shape (`StarTreeIndexOperator`: traverse by predicate, then
  * aggregate pre-aggregated records).
  *
  * Safety: the rewrite only fires when EVERY aggregate expression maps
  * onto a materialized column; anything else leaves the plan
  * untouched. A grouped query whose filter pins every non-group slice
  * dim with a top-level `dim = literal` conjunct (or that has no
  * filter) projects the [filtered] slice directly: each surviving
  * slice row is exactly one group, so there is no merge and no
  * exchange. A dim constrained only under an `OR`, an `IN` or a range
  * does not pin, and the query keeps the merge. Every other routed
  * query — every global aggregate among them — keeps its `Aggregate`
  * node, so an empty slice still yields the one row a global
  * aggregate owes. When the rollup is a file relation of at most
  * `spark.sql.files.openCostInBytes` (one file-open's worth of bytes,
  * known from the file listing), that merge reads the slice in one
  * task: a non-shuffling coalesce to one partition satisfies the
  * aggregate's distribution, so the query runs as one Spark job with
  * no exchange. A larger or computed rollup keeps the shuffled merge.
  * Output attribute ids are preserved via aliases, so parent operators
  * resolve unchanged. The rule runs before [[HllRegisterRule]], so a
  * distinct count a stored sketch answers never takes the register
  * plan's fact scan.
  */
object StarTreeRegistry {
  final case class Entry(pathPrefix: String, index: StarTree.Index)

  // one table may carry SEVERAL star-trees (the reference's
  // `IndexingConfig._starTreeIndexConfigs` list — different dimension
  // subsets/split orders); value = all indexes of the registered path,
  // SMALLEST dimension set first
  private val entries = new PathRegistry[Vector[Entry]]

  /** Register a built index for the fact table rooted at `path`
    * (matched against the scan's root path at rewrite time).
    * Registering a second index with the SAME dimension set replaces
    * it (rebuild); a different dimension set adds a sibling index. */
  def register(path: String, index: StarTree.Index): Unit =
    entries.update(path) { v =>
      (v.getOrElse(Vector.empty).filterNot(_.index.dims.toSet == index.dims.toSet) :+
        Entry(path, index)).sortBy(e => (e.index.dims.size, e.index.dims.mkString(",")))
    }

  def clear(): Unit = entries.clear()

  def unregister(path: String): Unit = entries.remove(path)

  def isEmpty: Boolean = entries.isEmpty

  /** The first of [[lookupAll]]. */
  def lookup(rootPath: String): Option[Entry] = lookupAll(rootPath).headOption

  /** All indexes registered for the longest matching prefix
    * ([[PathRegistry.longestPrefix]]), SMALLEST dimension set first —
    * the routing rule tries them in order and the first index that
    * covers the query's dims/metrics wins, so a narrower (cheaper, more
    * pre-aggregated) tree is preferred over a wide one, exactly the
    * reference's choose-the-best-tree behavior across its
    * starTreeIndexConfigs. */
  def lookupAll(rootPath: String): Seq[Entry] =
    entries.longestPrefix(rootPath).getOrElse(Vector.empty)
}

case class StarTreeRoutingRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  /** A distinct-count estimate over a raw column, and the stored
    * sketch lgKs that answer it (an `hll_<m>` slice column holds the
    * DataSketches HLL registers of its rows, which are insertion-order
    * invariant):
    *  - `hll_sketch_estimate(hll_sketch_agg(m, lgK))` at the tree's own
    *    lgK: the same registers, so the same estimate bit for bit;
    *  - `approx_count_distinct(m, rsd)` (HLL++, what PQL's
    *    DISTINCTCOUNTHLL compiles to) when the stored sketch is at
    *    least as accurate as asked, `1.04 / sqrt(2^lgK) <= rsd`: the
    *    estimate comes from the other algorithm, inside the accuracy
    *    the query asked for (the reference's fastHLL swap,
    *    `BrokerRequestPreProcessor.java:50-81`).
    * Either estimate is wrapped in `Coalesce(_, 0)`: both originals are
    * 0, never null, over no rows. */
  private object DistinctEstimate {
    def unapply(e: Expression): Option[(AttributeReference, Int => Boolean)] = e match {
      case HllSketchEstimate(AggregateExpression(h: HllSketchAgg, Complete, false, None, _)) =>
        (h.left, h.right) match {
          case (ar: AttributeReference, Literal(lgk: Int, _)) => Some((ar, _ == lgk))
          case _ => None
        }
      case AggregateExpression(HyperLogLogPlusPlus(ar: AttributeReference, rsd, _, _),
          Complete, false, None, _) =>
        Some((ar, lgK => 1.04 / math.sqrt((1 << lgK).toDouble) <= rsd))
      case _ => None
    }
  }

  /** Slice expression answering one aggregate, if tree-mergeable and
    * the slice materializes the needed columns (None → no rewrite, so
    * an index built before a column existed degrades to the fact scan
    * instead of crashing). AVG derives as sum/cnt — the reference's
    * AvgPair `ValueAggregator` (`data/aggregator/
    * ValueAggregatorFactory.java`) stores the same pair in the tree. */
  private def rollupExpr(e: Expression, metrics: Seq[String],
      bySlice: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute],
      sketchLgK: Int): Option[Expression] = e match {
    case DistinctEstimate(ar, fits) if sketchLgK > 0 && fits(sketchLgK) &&
        metrics.contains(ar.name) =>
      bySlice.get(s"hll_${ar.name}").map(a => Coalesce(Seq(HllSketchEstimate(a), Literal(0L))))
    case AggregateExpression(Sum(ar: AttributeReference, _), Complete, false, None, _)
        if metrics.contains(ar.name) => bySlice.get(s"sum_${ar.name}")
    case AggregateExpression(Min(ar: AttributeReference), Complete, false, None, _)
        if metrics.contains(ar.name) => bySlice.get(s"min_${ar.name}")
    case AggregateExpression(Max(ar: AttributeReference), Complete, false, None, _)
        if metrics.contains(ar.name) => bySlice.get(s"max_${ar.name}")
    case AggregateExpression(Average(ar: AttributeReference, _), Complete, false, None, _)
        if metrics.contains(ar.name) && !ar.dataType.isInstanceOf[DecimalType] =>
      // sum/cnt in double — Average's own result type for non-decimal
      // inputs; cnt = 0 gives a null sum, hence null avg, matching the
      // empty-group semantics. LEGACY divide: never ANSI-error here.
      for {
        s <- bySlice.get(s"sum_${ar.name}")
        c <- bySlice.get(s"cnt_${ar.name}")
      } yield Divide(Cast(s, DoubleType), Cast(c, DoubleType), EvalMode.LEGACY)
    // COUNT is non-nullable but a slice attribute read back from the
    // rollup is nullable — Coalesce restores the original contract so
    // the attribute's nullability matches what parents resolved
    // (values are never null: every slice row aggregated ≥1 fact row)
    case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) =>
      bySlice.get("star_count").map(a => Coalesce(Seq(a, Literal(0L))))
    case AggregateExpression(Count(Seq(ar: AttributeReference)), Complete, false, None, _)
        if metrics.contains(ar.name) =>
      bySlice.get(s"cnt_${ar.name}").map(a => Coalesce(Seq(a, Literal(0L))))
    case _ => None
  }

  private def aggE(f: AggregateFunction): AggregateExpression =
    AggregateExpression(f, Complete, isDistinct = false)

  /** RE-AGGREGATING form of [[rollupExpr]] for the filtered path: the
    * slice carries one row per (group ∪ filter)-dim combination, so
    * after the dimension filter the remaining rows merge back down to
    * the query's groups — sums add, min/max re-extremize, counts add,
    * AVG re-derives from summed (sum, cnt), HLL sketches union.
    * Exact aggregates merge exactly; the unioned-HLL estimate can
    * differ from a directly-built sketch WITHIN the sketch's error
    * contract (sparse→dense promotion depends on merge topology) —
    * the same approximation contract as the reference's tree-HLL.
    * Exactly the reference's star-tree execution: aggregate
    * pre-aggregated records below the filter
    * (`StarTreeIndexOperator` + the ValueAggregator merge path). */
  private def reAggExpr(e: Expression, metrics: Seq[String],
      bySlice: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute],
      sketchLgK: Int): Option[Expression] = e match {
    case DistinctEstimate(ar, fits) if sketchLgK > 0 && fits(sketchLgK) &&
        metrics.contains(ar.name) =>
      bySlice.get(s"hll_${ar.name}").map(a => Coalesce(Seq(
        HllSketchEstimate(aggE(HllUnionAgg(a, Literal(false)))), Literal(0L))))
    case AggregateExpression(Sum(ar: AttributeReference, _), Complete, false, None, _)
        if metrics.contains(ar.name) =>
      // re-summing a DecimalType sum widens precision by another 10
      // digits — cast back so the attribute under the original exprId
      // keeps the dataType downstream operators resolved against
      // (overflow on the cast would have overflowed the original Sum
      // too, so the error behavior is unchanged)
      bySlice.get(s"sum_${ar.name}").map { a =>
        val merged = aggE(Sum(a))
        if (merged.dataType == e.dataType) merged else Cast(merged, e.dataType)
      }
    case AggregateExpression(Min(ar: AttributeReference), Complete, false, None, _)
        if metrics.contains(ar.name) =>
      bySlice.get(s"min_${ar.name}").map(a => aggE(Min(a)))
    case AggregateExpression(Max(ar: AttributeReference), Complete, false, None, _)
        if metrics.contains(ar.name) =>
      bySlice.get(s"max_${ar.name}").map(a => aggE(Max(a)))
    case AggregateExpression(Average(ar: AttributeReference, _), Complete, false, None, _)
        if metrics.contains(ar.name) && !ar.dataType.isInstanceOf[DecimalType] =>
      for {
        s <- bySlice.get(s"sum_${ar.name}")
        c <- bySlice.get(s"cnt_${ar.name}")
      } yield Divide(Cast(aggE(Sum(s)), DoubleType),
        Cast(aggE(Sum(c)), DoubleType), EvalMode.LEGACY)
    // COUNT→SUM flips nullability (Count is non-nullable, Sum is not);
    // Coalesce restores the contract — a group only exists here if ≥1
    // slice row survived the filter, so the sum is never actually null
    case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) =>
      bySlice.get("star_count").map(a =>
        Coalesce(Seq(Cast(aggE(Sum(a)), e.dataType), Literal(0L))))
    case AggregateExpression(Count(Seq(ar: AttributeReference)), Complete, false, None, _)
        if metrics.contains(ar.name) =>
      bySlice.get(s"cnt_${ar.name}").map(a =>
        Coalesce(Seq(Cast(aggE(Sum(a)), e.dataType), Literal(0L))))
    case _ => None
  }

  /** Rewrite an aggregate-output expression bottom-up: every embedded
    * aggregate (or sketch-estimate-of-aggregate) goes through
    * `replaceAgg`, remaining attribute references must be grouping
    * dims (mapped to their slice attributes), scalar wrappers —
    * `round(sum(x), 3)`, arithmetic over two aggregates — carry over
    * unchanged. None anywhere → the whole rewrite falls back. */
  private def rewriteBody(body: Expression, groupNames: Set[String],
      bySlice: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute],
      replaceAgg: Expression => Option[Expression]): Option[Expression] = body match {
    case h @ HllSketchEstimate(_: AggregateExpression) => replaceAgg(h)
    case a: AggregateExpression => replaceAgg(a)
    case ar: AttributeReference =>
      if (groupNames.contains(ar.name)) bySlice.get(ar.name) else None
    case other =>
      val kids = other.children.map(rewriteBody(_, groupNames, bySlice, replaceAgg))
      if (kids.forall(_.isDefined)) {
        if (kids.isEmpty) Some(other)
        else Some(other.withNewChildren(kids.map(_.get)))
      } else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (StarTreeRegistry.isEmpty) plan
    else plan.transformUp {
      // grouped AND global aggregates route: a global aggregate (no
      // GROUP BY) re-aggregates the cube's all-stars slice — the
      // Aggregate node is KEPT (empty grouping always emits exactly one
      // row, even over an empty rollup, matching the one-row contract
      // of a global aggregate over an empty fact table), over one
      // task when the rollup is within the open-cost bound. The filter
      // of the peeled scan (when present) is the dimension predicate
      // the reference's star-tree answers by tree traversal; here it
      // re-applies over the rollup slice.
      case agg @ Aggregate(groupings, aggExprs, IndexedScan(cond, roots), _) =>
        // several indexes may be registered for one table — smallest
        // dimension set first (lookupAll's order); the first whose
        // dims/metrics cover the query wins
        roots.headOption.toSeq.flatMap(StarTreeRegistry.lookupAll).view
          .flatMap(entry => tryEntry(agg, groupings, aggExprs, cond, entry))
          .headOption.getOrElse(agg)
    }

  /** Attempt the rewrite against ONE candidate index; None when the
    * index does not cover the query (wrong dims, missing metric or
    * sketch column, non-dim filter) — the caller then tries the next
    * candidate. */
  private def tryEntry(agg: Aggregate,
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      cond: Option[Expression],
      entry: StarTreeRegistry.Entry): Option[LogicalPlan] = {
      val rewritten = for {
        dims <- Some(entry.index.dims)
        groupAttrs <- Some(groupings).collect {
          case gs if gs.forall {
            case ar: AttributeReference => dims.contains(ar.name)
            case _ => false
          } => gs.map(_.asInstanceOf[AttributeReference])
        }
        // a dimension-only, deterministic predicate can re-apply over
        // the slice; anything touching a non-dim column cannot
        _ <- cond match {
          case None => Some(())
          case Some(c) if c.deterministic &&
              c.references.forall(a => dims.contains(a.name)) => Some(())
          case _ => None
        }
        condDims = cond.map(_.references.map(_.name).toSeq).getOrElse(Nil)
        sliceDims = dims.filter(d =>
          groupAttrs.exists(_.name == d) || condDims.contains(d))
        slicePlan = entry.index.slice(sliceDims).queryExecution.analyzed
        bySlice = slicePlan.output.map(a => a.name -> a).toMap
        groupNames = groupAttrs.map(_.name).toSet
        // the direct-projection form fits a grouped query whose filter
        // leaves one value of every non-group slice dim: the slice
        // rows that survive ARE the groups. GLOBAL aggregates and
        // unpinned filters keep the Aggregate node and merge slice rows
        pinned = cond.toSeq.flatMap(splitConjunctivePredicates).collect {
          case EqualTo(a: AttributeReference, _: Literal) => a.name
          case EqualTo(_: Literal, a: AttributeReference) => a.name
        }.toSet
        reAggregate = groupAttrs.isEmpty ||
          !sliceDims.forall(d => groupNames(d) || pinned(d))
        replaceAgg = (e: Expression) =>
          if (!reAggregate) rollupExpr(e, entry.index.metrics, bySlice, entry.index.sketchLgK)
          else reAggExpr(e, entry.index.metrics, bySlice, entry.index.sketchLgK)
        newOut <- traverse[NamedExpression, NamedExpression](aggExprs) {
          case ar: AttributeReference if groupAttrs.exists(_.exprId == ar.exprId) =>
            bySlice.get(ar.name).map(src => Alias(src, ar.name)(exprId = ar.exprId))
          case al @ Alias(body, _) =>
            rewriteBody(body, groupNames, bySlice, replaceAgg)
              .map(expr => Alias(expr, al.name)(exprId = al.exprId))
          case _ => None
        }
      } yield {
        // [filter] the (group ∪ filter)-dim slice
        val filtered = cond match {
          case Some(c) => Filter(c.transform {
            case ar: AttributeReference => bySlice(ar.name)
          }, slicePlan)
          case None => slicePlan
        }
        if (!reAggregate)
          // direct projection: slice rows ARE the query's groups
          Project(newOut, filtered)
        else {
          // merge the surviving pre-aggregated rows back down to the
          // query's groups (one row, for a global agg) — in one task
          // when the rollup is small enough that a shuffle costs more
          // than reading it whole
          val oneTask = entry.index.fileBytes.exists(_ <= conf.filesOpenCostInBytes)
          agg.copy(
            groupingExpressions = groupAttrs.map(a => bySlice(a.name)),
            aggregateExpressions = newOut,
            child = if (oneTask) Repartition(1, shuffle = false, filtered) else filtered)
        }
      }
      rewritten
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}
