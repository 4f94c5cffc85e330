package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.StarTree
import graft.sources.Tables

class StarTreeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fact = Tables.load(spark, sfDir, "lineitem")
  private lazy val idx = StarTree.build(fact,
    Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))

  test("every covered group-by slice equals the direct aggregate") {
    for (dims <- Seq(Seq("l_returnflag"), Seq("l_linestatus"),
        Seq("l_returnflag", "l_linestatus"))) {
      val fromTree = idx.slice(dims)
        .select(dims.map(col) :+ col("sum_l_quantity") :+ col("star_count"): _*)
        .collect().map(_.toSeq).toSet
      val direct = fact.groupBy(dims.map(col): _*)
        .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c"))
        .collect().map(_.toSeq).toSet
      assert(fromTree === direct, s"mismatch for dims=$dims")
    }
  }

  test("the global (all-star) slice is the table-wide aggregate") {
    val all = idx.slice(Nil).select("sum_l_quantity", "star_count")
      .as[(Double, Long)].head()
    val direct = fact.agg(sum($"l_quantity"), count(lit(1)))
      .as[(Double, Long)].head()
    assert(all === direct)
  }

  test("rule routing: covered group-bys read the rollup, others the fact table") {
    def bySum(dim: String) = fact.groupBy(col(dim))
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c")).orderBy(dim)
    def scansFact(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("lineitem.parquet")
    val direct = bySum("l_returnflag").collect().map(_.toSeq).toSeq
    val routed = Graft.withIndexes(spark,
        trees = Seq(s"$sfDir/lineitem.parquet" -> persisted(idx, "route"))) {
      assert(scansFact(bySum("l_suppkey")), "an uncovered group-by must scan the fact table")
      bySum("l_returnflag")
    }
    assert(!scansFact(routed), "a covered group-by must read the rollup")
    assert(routed.collect().map(_.toSeq).toSeq === direct)
  }

  test("percentile-est metric: slice sketches bracket the exact percentiles") {
    val qidx = StarTree.build(fact, Seq("l_returnflag"), Seq("l_quantity"),
      quantileEps = 0.01)
    val est = qidx.slicePercentile(Seq("l_returnflag"), "l_quantity",
        Seq(0.5, 0.95))
      .withColumnRenamed("p50_l_quantity", "p50")
      .withColumnRenamed("p95_l_quantity", "p95")
    val exact = fact.groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, array(0.45, 0.55, 0.9, 1.0))").as("pe"))
    val rows = est.join(exact, "l_returnflag")
      .select(
        ($"p50" >= element_at($"pe", 1) && $"p50" <= element_at($"pe", 2)).as("ok50"),
        ($"p95" >= element_at($"pe", 3) && $"p95" <= element_at($"pe", 4)).as("ok95"))
      .as[(Boolean, Boolean)].collect()
    assert(rows.nonEmpty && rows.forall(r => r._1 && r._2), rows.mkString(","))
    // not built with sketches -> explicit rejection
    intercept[IllegalArgumentException](
      idx.slicePercentile(Seq("l_returnflag"), "l_quantity", Seq(0.5)))
  }

  test("uncovered dimension or metric is rejected by slice") {
    intercept[IllegalArgumentException](idx.slice(Seq("l_suppkey")))
  }

  /** Persist a built index's rollup and reload it — the registered
    * artifact must be a segment on disk (as at ingest time), not a
    * live cube plan over the fact scan, or the "routed" plan still
    * reads the fact table. */
  private def persisted(ix: StarTree.Index, tag: String): StarTree.Index = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_stspec_${tag}_" +
      ProcessHandle.current().pid()
    ix.rollup.write.mode("overwrite").parquet(out)
    ix.copy(rollup = spark.read.parquet(out))
  }

  test("global aggregates route through the tree, filtered and unfiltered") {
    Graft.withIndexes(spark,
        trees = Seq(s"$sfDir/lineitem.parquet" -> persisted(idx, "global"))) {
      val unfiltered = fact.agg(
        sum($"l_quantity").as("s"), count(lit(1)).as("c"),
        avg($"l_quantity").as("a"), min($"l_quantity").as("mn"),
        max($"l_quantity").as("mx"))
      val filtered = fact.filter($"l_linestatus" === "F")
        .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c"))
      for ((which, df) <- Seq("unfiltered" -> unfiltered, "filtered" -> filtered)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("lineitem.parquet"),
          s"global $which aggregate must route off the fact scan:\n$plan")
      }
      val (s, c, a, mn, mx) = unfiltered
        .as[(Double, Long, Double, Double, Double)].head()
      val (ds, dc, da, dmn, dmx) = fact.agg(
        sum($"l_quantity"), count(lit(1)), avg($"l_quantity"),
        min($"l_quantity"), max($"l_quantity"))
        .as[(Double, Long, Double, Double, Double)].head()
      assert(s === ds && c === dc && mn === dmn && mx === dmx)
      assert(math.abs(a - da) < 1e-9)
      val (fs, fc) = filtered.as[(Double, Long)].head()
      val (dfs, dfc) = fact.filter($"l_linestatus" === "F")
        .agg(sum($"l_quantity"), count(lit(1))).as[(Double, Long)].head()
      assert(fs === dfs && fc === dfc)
    }
  }

  test("derived-HLL rewrite: PQL over the raw column answers from stored sketches") {
    import graft.pql.Pql
    val sketchIdx = persisted(StarTree.build(fact,
      Seq("l_returnflag", "l_linestatus"), Seq("l_partkey"), sketchLgK = 12),
      "sketch")
    Graft.withIndexes(spark, trees = Seq(s"$sfDir/lineitem.parquet" -> sketchIdx)) {
      val resolve = (name: String) => Tables.load(spark, sfDir, name)
      val grouped = Pql.toDataFrame(Pql.parse(
        "SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem GROUP BY l_returnflag TOP 10"),
        resolve)
      val global = Pql.toDataFrame(Pql.parse(
        "SELECT FASTHLL(l_partkey) FROM lineitem"), resolve)
      for ((which, df) <- Seq("grouped" -> grouped, "global" -> global)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("lineitem.parquet"),
          s"derived-HLL $which must route off the fact scan:\n$plan")
      }
      // grouped: stored group sketches have the same register state as
      // a direct query-time build at the same lgK — identical estimates
      val direct = fact.groupBy($"l_returnflag")
        .agg(hll_sketch_estimate(hll_sketch_agg($"l_partkey", lit(12))).as("est"))
        .orderBy($"l_returnflag")
        .as[(String, Long)].collect().toMap
      grouped.orderBy($"l_returnflag").as[(String, Long)].collect().foreach {
        case (k, est) => assert(est === direct(k), s"group $k")
      }
      // global: union of group sketches, inside the lgK-12 envelope
      val est = global.head().getLong(0)
      val exact = fact.agg(countDistinct($"l_partkey")).head().getLong(0)
      assert(math.abs(est - exact) <= 0.05 * exact, s"$est vs $exact")
    }
  }

  test("sketch trees of different lgKs: a query answers from its narrowest covering tree") {
    import graft.pql.Pql
    val factPath = s"$sfDir/lineitem.parquet"
    // one tree answers each query, so no answer merges sketches of two
    // lgKs (the case the reference's consistency check guards, where a
    // broker merges segments built with different log2m)
    Graft.withIndexes(spark, trees = Seq(
        factPath -> persisted(StarTree.build(fact, Seq("l_returnflag"), Seq("l_partkey"),
          sketchLgK = 8), "lgk8"),
        factPath -> persisted(StarTree.build(fact, Seq("l_linestatus"), Seq("l_partkey"),
          sketchLgK = 12), "lgk12"))) {
      val df = Pql.toDataFrame(Pql.parse(
        "SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem GROUP BY l_returnflag TOP 5"),
        Tables.load(spark, sfDir, _))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("lineitem.parquet"), s"must route off the fact scan:\n$plan")
      assert(plan.contains("graft_stspec_lgk8_") && !plan.contains("graft_stspec_lgk12_"), plan)
      val direct = fact.groupBy($"l_returnflag")
        .agg(hll_sketch_estimate(hll_sketch_agg($"l_partkey", lit(8))).as("est"))
        .as[(String, Long)].collect().toMap
      assert(df.as[(String, Long)].collect().toMap === direct)
    }
  }
}
