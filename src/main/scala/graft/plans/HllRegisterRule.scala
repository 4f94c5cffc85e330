package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{HllFast, HllFastPlan}

/** A global aggregate whose one output is `approx_count_distinct` over
  * a [[HllFastPlan.supported]] type answers from the codegen register
  * plan, [[HllFastPlan.distinctCountHll]]: the same estimate bit for
  * bit, without the ImperativeAggregate that keeps the scan out of
  * whole-stage codegen. The output keeps its attribute id, so parents
  * resolve unchanged. It is last in [[graft.GraftExtensions.rules]]:
  * an estimate [[StarTreeRoutingRule]] answered from stored sketches
  * never gets here.
  *
  * The register plan's RDD is built while the rule runs, so the rule
  * takes only a child whose RDD builds without a Spark job: scans under
  * projections, filters and unions, with no subquery. Any other child,
  * and a streaming one, keeps the built-in aggregate. */
case class HllRegisterRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Aggregate(Nil, Seq(out @ Alias(AggregateExpression(
        HyperLogLogPlusPlus(arg, rsd, _, _), Complete, false, None, _), _)), child, _)
        if HllFastPlan.supported(arg.dataType) && arg.deterministic &&
          HllFast.precision(rsd) <= 20 && !child.isStreaming && jobFree(child) =>
      val est = HllFastPlan.distinctCountHll(GraftSqlBridge.frame(spark, child),
        GraftSqlBridge.column(arg), rsd, out.name).queryExecution.analyzed
      Project(Seq(Alias(est.output.head, out.name)(exprId = out.exprId)), est)
  }

  private def jobFree(p: LogicalPlan): Boolean = !p.exists {
    case _: Project | _: Filter | _: Union | _: LeafNode => false
    case _ => true
  } && !p.exists(_.expressions.exists(SubqueryExpression.hasSubquery))
}
