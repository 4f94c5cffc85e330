package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.plans.{DictRoutingRule, StarTree, StarTreeRoutingRule}

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
    assert(mentioning("Registry.unregister", "Graft.enable(") === Set("graft/GraftExtensions.scala"))
  }
}
