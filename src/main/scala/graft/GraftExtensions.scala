package graft

import org.apache.spark.sql.{Dataset, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.SqlFunctions
import graft.plans.{DictLayout, DictRegistry, DictRoutingRule, HllRegisterRule, SortedPageRule, StarTree, StarTreeRegistry, StarTreeRoutingRule}

/** The engine's `SparkSessionExtensions` entry point — the preference-
  * order capstone for operators Spark can't express natively (project
  * brief option (c)): custom expressions registered as SQL functions
  * and the star-tree, dictionary, sorted-page and HLL register-plan
  * optimizer rules, injected at session build via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * [[GraftExtensions.functions]] and [[GraftExtensions.rules]] are the
  * one list of what graft injects; [[Graft.enable]] applies the same
  * list to an ALREADY-RUNNING session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(ext.injectOptimizerRule)
  }
}

object GraftExtensions {
  /** The graft SQL functions. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    SqlFunctions.all.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft.functions.exprs", name), builder)
    }

  /** The routing rules, in order: star-tree first, so a full
    * pre-aggregation answer wins over the dictionary-encoded scan when
    * both artifacts are registered; the sorted page after the
    * dictionary rewrite, so it cuts whichever relation that rewrite
    * left under the sort; the HLL register plan last, so a stored
    * sketch wins over it for a distinct count. */
  val rules: Seq[SparkSession => Rule[LogicalPlan]] =
    Seq(StarTreeRoutingRule(_), DictRoutingRule(_), SortedPageRule(_), HllRegisterRule(_))
}

/** Graft on an existing session, and the one way to put indexes in
  * front of its queries. */
object Graft {

  /** Apply [[GraftExtensions]] to a running session through its public
    * `experimental` hooks. Idempotent: a function is registered only
    * when the session lacks it, and a rule is added only when the
    * session runs none of its class yet — whether from an earlier call
    * or from `spark.sql.extensions`. */
  def enable(spark: SparkSession): Unit = {
    GraftExtensions.functions.foreach { case f @ (id, _, _) =>
      if (!GraftSqlBridge.functionExists(spark, id)) GraftSqlBridge.registerFunction(spark, f)
    }
    val running = spark.experimental.extraOptimizations ++ GraftSqlBridge.injectedRules(spark)
    GraftExtensions.rules.map(_(spark)).foreach { rule =>
      if (!running.exists(_.getClass == rule.getClass))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    }
  }

  /** Run `body` with `trees` and `dicts` (fact table path → index)
    * registered and the routing rules enabled on `spark`; their paths
    * are unregistered afterwards, even when `body` throws. A
    * DataFrame result comes back over its optimized — routed — plan,
    * so it and every frame derived from it keep the route once the
    * indexes are gone. */
  def withIndexes[A](spark: SparkSession,
      trees: Seq[(String, StarTree.Index)] = Nil,
      dicts: Seq[(String, DictLayout.Index)] = Nil)(body: => A): A = {
    enable(spark)
    trees.foreach { case (path, index) => StarTreeRegistry.register(path, index) }
    dicts.foreach { case (path, index) => DictRegistry.register(path, index) }
    try body match {
      case ds: Dataset[_] => GraftSqlBridge.planned(ds).asInstanceOf[A]
      case other => other
    } finally {
      trees.foreach { case (path, _) => StarTreeRegistry.unregister(path) }
      dicts.foreach { case (path, _) => DictRegistry.unregister(path) }
    }
  }
}
