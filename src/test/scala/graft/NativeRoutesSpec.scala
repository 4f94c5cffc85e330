package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pql.Pql
import graft.queries.ScaleTable

/** The routes the native layout serves (`BenchScale.runNative` at
  * scale, brokerbench's `serve_routed` under load), pinned at unit
  * scale: the same four star-trees and dictionary layout over a
  * time-sorted OnTime copy, and runNative's own route and answer
  * checks on every routed workload query. */
class NativeRoutesSpec extends SparkSpec {

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-native-routes").toString
  private lazy val nativePath = s"$dir/ontime_sorted_dse.parquet"
  private val nativeOrder = Seq(col("DaysSinceEpoch"), col("FlightNum"))

  /** The generated rows, cached: the unrouted answers scan this
    * in-memory relation, which no index can match. */
  private lazy val table = ScaleTable.frame(spark, 20000L).cache()

  /** The served copy, written as BenchScale writes its native table:
    * sorted on (DaysSinceEpoch, FlightNum) into range-disjoint files. */
  private lazy val native = {
    table.repartitionByRange(8, nativeOrder: _*).sortWithinPartitions(nativeOrder: _*)
      .write.parquet(nativePath)
    spark.read.parquet(nativePath)
  }

  private val routed = Seq("a2_agg_1pred", "a3_agg_2pred", "a4_groupby_1dim",
    "a5_groupby_2dim", "a6_groupby_3dim", "s1_filter_topn", "s2_page",
    "s3_point_topn", "h1_hll")

  private val treeRouted = Seq("a2_agg_1pred", "a3_agg_2pred", "a4_groupby_1dim",
    "a5_groupby_2dim", "h1_hll")

  private def query(name: String, over: DataFrame) =
    Pql.toDataFrame(Pql.parse(BenchScale.workload.find(_._1 == name).get._3), _ => over)

  test("native layout routes a2-a6, s1-s3 and h1, and answers as the scan") {
    val trees = BenchScale.ensureWorkloadTrees(spark, dir, native)
    val dict = BenchScale.ensureNativeDict(spark, dir, native)
    val expected = routed.map(n => n -> query(n, table).collect()).toMap
    val hllExact = table.agg(countDistinct(col("FlightNum"))).head().getLong(0)
    Graft.withIndexes(spark, trees = trees.map(nativePath -> _),
        dicts = Seq(nativePath -> dict)) {
      routed.foreach { n =>
        val df = query(n, native)
        BenchScale.requireNativeRoute(n, df, native)
        BenchScale.requireNativeAnswer(n, df, expected.get(n), hllExact)
      }
    }
  }

  test("s2 and s3 route and answer as the scan as spark.sql text and when built before registration") {
    // the routes are the optimizer rules': they reach SQL text over a
    // view of the native table, and a frame built while no index was
    // registered, planned once the index is
    val dict = BenchScale.ensureNativeDict(spark, dir, native)
    val pages = Seq("s2_page", "s3_point_topn")
    val expected = pages.map(n => n -> query(n, table).collect()).toMap
    val early = pages.map(n => n -> query(n, native)).toMap
    native.createOrReplaceTempView("ontime")
    try Graft.withIndexes(spark, dicts = Seq(nativePath -> dict)) {
      pages.foreach { n =>
        val sql = spark.sql(BenchScale.workload.find(_._1 == n).get._4)
        for (df <- Seq(sql, early(n))) {
          BenchScale.requireNativeRoute(n, df, native)
          BenchScale.requireNativeAnswer(n, df, expected.get(n), 0L)
        }
      }
    } finally { spark.catalog.dropTempView("ontime"); () }
  }

  test("the star-tree routes a2-a5 and h1 each run one Spark job") {
    // a pinned group-by (a4, a5) projects its slice; every merge (a2,
    // a3, h1) reads the small rollup in one task, with no exchange
    val trees = BenchScale.ensureWorkloadTrees(spark, dir, native)
    Graft.withIndexes(spark, trees = trees.map(nativePath -> _)) {
      treeRouted.foreach { n =>
        val df = query(n, native)
        val (_, jobs) = jobsOf(df.collect())
        assert(jobs == 1, s"$n ran $jobs jobs:\n${df.queryExecution.executedPlan}")
      }
    }
  }
}
