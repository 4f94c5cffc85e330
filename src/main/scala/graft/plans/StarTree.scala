package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Star-tree analog: a materialized pre-aggregation answering group-by
  * queries without touching the fact table.
  *
  * The reference builds a per-segment tree over a configured dimension
  * order whose star (`*`) nodes hold metrics aggregated over the
  * splitting dimension
  * (`pinot-core/.../startree/v2/StarTreeV2.java`,
  * `startree/v2/builder/BaseSingleTreeBuilder.java`), letting any
  * group-by on a subset of the tree dimensions read pre-aggregated
  * rows. The Spark-native equivalent of that query power is a CUBE
  * materialization: one shuffle computes every dimension subset's
  * rollup, `grouping_id()` marks which dimensions are starred, and
  * query routing selects the one slice whose starred set matches the
  * query — the same "answer from the tree, skip the fact scan" effect.
  *
  * Scale notes:
  *  - build cost: ONE pass + one shuffle over the fact table (cube's
  *    partial aggregation combines map-side); output size is bounded
  *    by Σ over subsets of the product of their cardinalities — like
  *    the reference, choose FEW, LOW-CARDINALITY dimensions (the
  *    reference bounds tree size with maxLeafRecords the same way);
  *  - only DECOMPOSABLE aggregates may be materialized (sum/count/
  *    min/max — avg derives from sum+count at query time); percentile
  *    or distinct-count would be wrong under rollup merging, exactly
  *    why the reference restricts star-tree metrics to mergeable fns;
  *  - query cost: a filter on `_gid` + a scan of the rollup — at
  *    100 TB the rollup is orders of magnitude smaller than the fact
  *    table. The `_gid` filter does NOT prune files or row groups of
  *    a persisted rollup: [[build]] writes the grouping sets
  *    interleaved, so every file's `_gid` range spans them all and a
  *    slice query decodes every rollup row to keep one grouping set's.
  *
  * A query reaches an index one way: register it for its fact table
  * ([[StarTreeRegistry.register]], or for one scope with
  * [[graft.Graft.withIndexes]]) and run the plain aggregate over the
  * table; [[StarTreeRoutingRule]] rewrites it onto the slice.
  */
object StarTree {

  /** Materialized rollup over `dims` with sum/count/min/max metrics
    * (plus, when built `withSketches`, a DataSketches HLL column per
    * metric — the reference's sketch `ValueAggregator`s,
    * `data/aggregator/ValueAggregatorFactory.java`). Persist `rollup`
    * (e.g. `write.parquet`) to reuse across queries — the
    * segment-build step of the reference's tree. */
  final case class Index(dims: Seq[String], metrics: Seq[String], rollup: DataFrame,
      sketchLgK: Int = 0, quantileEps: Double = 0) {

    /** Bytes of the rollup's files when it is a bare file relation
      * (a persisted rollup read back), from the file index's listing —
      * no job; None for a computed rollup. */
    lazy val fileBytes: Option[Long] = rollup.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some(fs.sizeInBytes)
      case _ => None
    }

    private def gidFor(groupBy: Seq[String]): Long =
      dims.zipWithIndex.map { case (d, i) =>
        if (groupBy.contains(d)) 0L else 1L << (dims.length - 1 - i)
      }.sum

    /** Can this index answer a group-by on `groupBy`? */
    def covers(groupBy: Seq[String]): Boolean = groupBy.forall(dims.contains)

    /** Percentile estimate of `metric` per group, answered ENTIRELY
      * from the tree's stored quantile sketch column — the reference's
      * percentile-est star-tree metric
      * (`data/aggregator/ValueAggregatorFactory.java`'s
      * PERCENTILE_EST: the tree node stores a mergeable digest, and a
      * star-tree query extracts quantiles from it). Explicit API, not
      * a silent optimizer rewrite: sketch-merge percentiles are
      * approximate (rank error ≤ eps·n), so unlike the
      * insertion-order-invariant HLL columns they cannot transparently
      * replace an exact `percentile`/`approx_percentile` plan without
      * changing answers — the caller opts into sketch semantics here,
      * exactly as with fastHLL. */
    def slicePercentile(groupBy: Seq[String], metric: String,
        fractions: Seq[Double]): DataFrame = {
      require(quantileEps > 0 && rollup.columns.contains(s"qs_$metric"),
        s"index was not built with a quantile sketch for '$metric' " +
          "(pass quantileEps to StarTree.build)")
      // fraction encoded losslessly in the name (0.95 → p95, 0.954 →
      // p95_4): integer-percent rounding would collide 0.95 and 0.954
      // into duplicate column names
      val ests = fractions.map { f =>
        // valueOf goes through Double.toString, so 0.95 labels as p95,
        // not the binary expansion's p94_999…
        val label = java.math.BigDecimal.valueOf(f).movePointRight(2)
          .stripTrailingZeros.toPlainString.replace(".", "_")
        graft.functions.QuantileSketch.estimate(col(s"qs_$metric"), f)
          .as(s"p${label}_$metric")
      }
      slice(groupBy).select(groupBy.map(col) ++ ests: _*)
    }

    /** The pre-aggregated slice for a group-by on `groupBy` ⊆ dims:
      * rows whose grouping id stars exactly the other dimensions.
      * `cnt_<m>` is the per-metric non-null count — AVG derives as
      * sum/cnt at query time (the reference's AvgPair value aggregator
      * stores (sum, count) in the tree for the same reason);
      * `star_count` alone would be wrong for nullable metrics. */
    def slice(groupBy: Seq[String]): DataFrame = {
      require(covers(groupBy),
        s"star-tree over $dims cannot answer group-by $groupBy")
      val sketchCols = rollup.columns
        .filter(c => c.startsWith("hll_") || c.startsWith("qs_")).map(col).toSeq
      val metricCols = metrics.flatMap(m => Seq(
        col(s"sum_$m"), col(s"min_$m"), col(s"max_$m"), col(s"cnt_$m"))) ++
        sketchCols :+ col("star_count")
      rollup.filter(col("_gid") === gidFor(groupBy))
        .select(groupBy.map(col) ++ metricCols: _*)
    }
  }

  /** Build the index: one cube aggregation over the fact table.
    * `sketchLgK > 0` additionally materializes an `hll_<m>`
    * DataSketches HLL column per metric. HLL register state is
    * insertion-order invariant, so the stored sketch for a group is
    * byte-for-byte the sketch a query-time `hll_sketch_agg` over the
    * same rows would build — which is what makes sketch routing
    * TRANSPARENT (identical estimates). approx_count_distinct (HLL++,
    * what PQL's DISTINCTCOUNTHLL compiles to) is a different sketch:
    * it routes to these columns only when the stored sketch is at
    * least as accurate as the call asks, `1.04 / sqrt(2^lgK) <= rsd`,
    * so the estimate changes algorithm but stays inside the asked
    * accuracy ([[StarTreeRoutingRule]]). */
  def build(fact: DataFrame, dims: Seq[String], metrics: Seq[String],
      sketchLgK: Int = 0, quantileEps: Double = 0): Index = {
    // DataSketches HLL accepts int/bigint/string/binary only — sketch
    // the metrics it can, silently skip the rest (their hll_ column is
    // simply absent, so sketch routing falls back for them)
    val sketchable: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.BinaryType)
    val sketches: Seq[Column] =
      if (sketchLgK <= 0) Nil
      else metrics
        .filter(m => sketchable.contains(fact.schema(m).dataType))
        .map(m => hll_sketch_agg(col(m), lit(sketchLgK)).as(s"hll_$m"))
    // percentile-est metric (ValueAggregatorFactory PERCENTILE_EST):
    // a mergeable GK quantile sketch per numeric metric per node
    val qsketches: Seq[Column] =
      if (quantileEps <= 0) Nil
      else metrics
        .filter(m => fact.schema(m).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType])
        .map(m => graft.functions.QuantileSketch
          .sketchAgg(col(m).cast("double"), quantileEps).as(s"qs_$m"))
    val aggCols: Seq[Column] =
      metrics.flatMap(m => Seq(
        sum(col(m)).as(s"sum_$m"),
        min(col(m)).as(s"min_$m"),
        max(col(m)).as(s"max_$m"),
        count(col(m)).as(s"cnt_$m"))) ++ sketches ++ qsketches :+
        count(lit(1)).as("star_count")
    // grouping_id() is only valid inside the cube aggregation itself
    val rollup = fact
      .cube(dims.map(col): _*)
      .agg(aggCols.head, aggCols.tail :+ grouping_id().as("_gid"): _*)
    Index(dims, metrics, rollup, math.max(sketchLgK, 0), math.max(quantileEps, 0))
  }
}
