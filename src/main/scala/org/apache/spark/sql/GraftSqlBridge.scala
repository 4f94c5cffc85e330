package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Bridge to the `private[sql]` Column ↔ Catalyst Expression
  * converters. Lives in the `org.apache.spark.sql` package solely to
  * satisfy the access modifier — the standard pattern for libraries
  * that register custom expressions without forking Spark. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]` in Spark 4; this public alias
    * lets graft expressions declare `inputTypes` (ExpectsInputTypes)
    * for analysis-time type checking. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** `TypeCollection` constructor access (`private[sql]`): lets an
    * expression accept several input types WITHOUT an implicit cast —
    * e.g. the vector kernels take array<float> natively instead of
    * paying a per-evaluation Cast allocation to array<double>. */
  def typeCollection(ts: org.apache.spark.sql.types.AbstractDataType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** `internalCreateDataFrame` is `private[sql]`: build a DataFrame
    * over an RDD of InternalRows without the row-encoder round-trip —
    * the seam for per-partition imperative operators whose output
    * re-enters the declarative plan (e.g. the HLL register build). */
  def internalDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      rdd, schema, isStreaming = false)

  /** Whether the session's function registry (`private[sql]`) holds
    * `id`. */
  def functionExists(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier): Boolean =
    spark.sessionState.functionRegistry.functionExists(id)

  /** Register a SQL function on an existing session — the same
    * (identifier, info, builder) triple `SparkSessionExtensions`
    * injects. */
  def registerFunction(spark: SparkSession,
      f: (org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)): Unit =
    spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)

  /** The optimizer rules the session's own `SparkSessionExtensions`
    * (`spark.sql.extensions`, `Builder.withExtensions`) inject. */
  def injectedRules(spark: SparkSession): Seq[Rule[LogicalPlan]] =
    spark.asInstanceOf[classic.SparkSession].extensions.buildOptimizerRules(spark)

  /** A DataFrame over an already resolved logical plan — for the
    * probes an optimizer rule runs over a fragment of the plan it
    * rewrites. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `ds` over its optimized plan: actions on the result, and on every
    * frame derived from it, start from the plan the optimizer produced
    * now, whatever the session's rules would make of it later. */
  def planned[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.asInstanceOf[classic.Dataset[T]]
    new classic.Dataset[T](c.sparkSession, c.queryExecution.optimizedPlan, c.encoder)
  }
}
