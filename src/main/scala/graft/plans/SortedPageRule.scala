package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LIMIT, SORT}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.SortedLayout

/** Ordered page over a sorted layout: a `LIMIT` over a global `Sort`
  * of an [[IndexedScan]] — an `OFFSET` and a `Project` may sit between
  * the limit and the sort ([[Paged]]), a computing select list between
  * the sort and the scan — reads only the head (tail, descending)
  * files the page can draw from, decided from parquet footer
  * statistics by [[graft.sources.SortedLayout.orderedSelection]]. The
  * relation is swapped for that file subset with the same output
  * attributes; the plan above it is untouched. This is the reference's
  * `SelectionOrderByOperator` over a sorted forward index (SURVEY
  * §2.5), and the map pruning from per-partition range statistics in
  * *Shark* (SIGMOD'13).
  *
  * It runs after [[DictRoutingRule]] in [[graft.GraftExtensions.rules]]:
  * when the table has a dictionary layout, the selection first moves
  * onto the encoded copy (id-space filter and sort keys, decode after
  * the top-K), and this rule then cuts the encoded copy's files — the
  * composed sorted + dictionary page, provided the copy keeps the sort
  * (`DictLayout.build(layoutBy = …)`).
  *
  * The primary sort key must be an attribute of the relation and the
  * filter deterministic. A relation the rule produced is a page
  * already and is never cut again, so the fixed-point batches leave it
  * as it is.
  *
  * Jobs: the footer sweep (only for files not seen before), the
  * filtered page's limit-bounded counts and the boundary probe (only
  * above `parquet.page.row.count.limit` rows per file) run HERE,
  * during optimization, once per `QueryExecution` — on the thread and
  * under the job group of whoever first asks for the optimized plan.
  * So `explain()` of such a page runs them too. */
case class SortedPageRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsAllPatterns(LIMIT, SORT)) {
      case limit @ GlobalLimit(IntegerLiteral(n), Paged(offset,
          Sort(order, true, Selected(scan @ IndexedScan(cond, _)), _)))
          if cond.forall(_.deterministic) =>
        val rel = scan.collectFirst { case r: LogicalRelation => r }.get
        SortedLayout.orderedSelection(rel, order, cond, n.toLong + offset)
          .map(cut => limit.transformUp { case r: LogicalRelation if r eq rel => cut })
          .getOrElse(limit)
    }

  /** What may sit between a page's `GlobalLimit` and its `Sort`: the
    * `LocalLimit`s and the `Offset` Spark places there (a local limit
    * never keeps fewer rows than the page needs), then the restore /
    * decode `Project` [[DictRoutingRule]] adds. Yields the offset (0
    * without one) and the plan below. */
  private object Paged {
    def unapply(plan: LogicalPlan): Option[(Long, LogicalPlan)] = plan match {
      case LocalLimit(_, child) => unapply(child)
      case Offset(IntegerLiteral(o), child) => unapply(child).map { case (o2, c) => (o + o2, c) }
      case Project(_, sort: Sort) => Some((0L, sort))
      case other => Some((0L, other))
    }
  }

  /** The select list between the `Sort` and the scan, which may compute
    * columns (PQL orders the projected frame): the plan below it. */
  private object Selected {
    def unapply(plan: LogicalPlan): Some[LogicalPlan] = plan match {
      case Project(_, child) => Some(child)
      case other => Some(other)
    }
  }
}
