package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.plans.{DictRoutingRule, HllRegisterRule, SortedPageRule, StarTree, StarTreeRoutingRule}
import graft.pql.Pql
import graft.queries.ScaleTable

/** Graft reaches a session one way: [[GraftExtensions]]' list, injected
  * at build (`spark.sql.extensions`) or applied to a running session by
  * [[Graft.enable]]; and indexes reach queries one way, through
  * [[Graft.withIndexes]]. */
class GraftInjectionSpec extends SparkSpec {
  import spark.implicits._

  private val factPath = s"$sfDir/lineitem.parquet"

  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten

  private lazy val rollupIndex = {
    val fact = spark.read.parquet(factPath)
    val dir = Files.createTempDirectory("graft-injection-rollup").toString
    StarTree.build(fact, Seq("l_returnflag"), Seq("l_quantity")).rollup
      .write.mode("overwrite").parquet(dir)
    StarTree.Index(Seq("l_returnflag"), Seq("l_quantity"), spark.read.parquet(dir))
  }

  /** BenchScale's native table at unit scale — sorted on
    * (DaysSinceEpoch, FlightNum) into range-disjoint files — and its
    * dictionary layout, which keeps that order: the s2 page's
    * composed route. */
  private lazy val (nativePath, nativeDict) = {
    val dir = Files.createTempDirectory("graft-injection-native").toString
    val path = s"$dir/ontime_sorted_dse.parquet"
    val order = Seq(col("DaysSinceEpoch"), col("FlightNum"))
    ScaleTable.frame(spark, 20000L).repartitionByRange(8, order: _*)
      .sortWithinPartitions(order: _*).write.parquet(path)
    (path, BenchScale.ensureNativeDict(spark, dir, spark.read.parquet(path)))
  }

  test("Graft.enable is idempotent: one rule of each kind, no function re-registered") {
    val fresh = spark.newSession()
    // a definition the session already holds stays as it is
    val (id, _, builder) = GraftExtensions.functions.head
    GraftSqlBridge.registerFunction(fresh, (id, new ExpressionInfo("sentinel", id.funcName), builder))
    Graft.enable(fresh)
    Graft.enable(fresh)
    val rules = fresh.experimental.extraOptimizations
    assert(rules.count(_.isInstanceOf[StarTreeRoutingRule]) === 1)
    assert(rules.count(_.isInstanceOf[DictRoutingRule]) === 1)
    assert(rules.count(_.isInstanceOf[SortedPageRule]) === 1)
    assert(rules.count(_.isInstanceOf[HllRegisterRule]) === 1)
    assert(fresh.catalog.getFunction(id.funcName).className === "sentinel")
    assert(fresh.catalog.getFunction(GraftExtensions.functions.last._1.funcName).className ===
      "graft.functions.exprs")
  }

  test("a session built with GraftExtensions serves functions and routes as an enabled one") {
    def sums(s: SparkSession) = s.read.parquet(factPath).groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c")).orderBy($"l_returnflag")
    val built = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      assert(built.sparkContext eq spark.sparkContext)
      val sql = "SELECT simhash64('hello world'), round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6)"
      Graft.enable(spark)
      assert(built.sql(sql).head() === spark.sql(sql).head())
      // the injected rules run already: enable adds none of its own
      Graft.enable(built)
      assert(built.experimental.extraOptimizations.isEmpty)
      val direct = sums(spark).collect().toSeq
      Graft.withIndexes(spark, trees = Seq(factPath -> rollupIndex)) {
        val (viaBuild, viaEnable) = (sums(built), sums(spark))
        assert(!scanRoots(viaEnable).exists(_.contains("lineitem.parquet")))
        assert(scanRoots(viaBuild) === scanRoots(viaEnable))
        assert(viaBuild.collect().toSeq === viaEnable.collect().toSeq)
        assert(viaEnable.collect().toSeq === direct)
      }
      // the s2 page: the dictionary rewrite, then the sorted cut of the
      // encoded copy's files, from either optimizer batch
      val s2 = BenchScale.workload.find(_._1 == "s2_page").get._3
      def page(s: SparkSession) = Pql.toDataFrame(Pql.parse(s2), _ => s.read.parquet(nativePath))
      def keys(df: DataFrame) = df.select($"DaysSinceEpoch", $"FlightNum").collect().toSeq
      // the unrouted page: the generated rows, which no rule matches
      val plainKeys = keys(Pql.toDataFrame(Pql.parse(s2), _ => ScaleTable.frame(spark, 20000L)))
      Graft.withIndexes(spark, dicts = Seq(nativePath -> nativeDict)) {
        val (viaBuild, viaEnable) = (page(built), page(spark))
        assert(scanRoots(viaEnable).nonEmpty &&
          scanRoots(viaEnable).forall(_.contains("ontime_native_dict")), scanRoots(viaEnable))
        assert(viaEnable.inputFiles.length < nativeDict.encoded.inputFiles.length)
        assert(scanRoots(viaBuild) === scanRoots(viaEnable))
        for (df <- Seq(viaBuild, viaEnable))
          assert(df.queryExecution.optimizedPlan.toString.contains("dict_decode"))
        assert(keys(viaBuild) === keys(viaEnable))
        assert(keys(viaEnable) === plainKeys)
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("withIndexes: a returned frame, and frames derived from it, keep the route") {
    val routed = Graft.withIndexes(spark, trees = Seq(factPath -> rollupIndex)) {
      spark.read.parquet(factPath).groupBy($"l_returnflag").agg(sum($"l_quantity").as("s"))
    }
    val derived = routed.filter($"s" > 0).select($"l_returnflag")
    for (df <- Seq(routed, derived))
      assert(!scanRoots(df).exists(_.contains("lineitem.parquet")), scanRoots(df))
    // the scope has ended: the same query built now scans the fact table
    val after = spark.read.parquet(factPath).groupBy($"l_returnflag").agg(sum($"l_quantity"))
    assert(scanRoots(after).exists(_.contains("lineitem.parquet")))
  }

  test("src/main: injection only in GraftExtensions, unregister only in its scope helper") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    def mentioning(words: String*): Set[String] = sources(root).filter { f =>
      val text = Files.readString(f.toPath)
      words.exists(text.contains)
    }.map(f => root.toPath.relativize(f.toPath).toString).toSet
    assert(mentioning("extraOptimizations", "registerFunction", "createOrReplaceTempFunction")
      === Set("graft/GraftExtensions.scala", "org/apache/spark/sql/GraftSqlBridge.scala"))
    assert(mentioning("Registry.unregister") === Set("graft/GraftExtensions.scala"))
    // the one caller that enables graft itself: the broker, for the
    // queries it plans
    assert(mentioning("Graft.enable(") === Set("graft/pql/BrokerServer.scala"))
  }

  test("src/main: the PQL compiler leaves index routes to the optimizer rules") {
    val pql = Files.readString(java.nio.file.Paths.get("src/main/scala/graft/pql/Pql.scala"))
    for (name <- Seq("DictLayout", "SortedLayout", "StarTreeRegistry", "HllFastPlan"))
      assert(!pql.contains(name), s"pql/Pql.scala names $name")
  }
}
