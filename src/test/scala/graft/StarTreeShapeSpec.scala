package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import graft.plans.StarTree

/** The plan shapes [[graft.plans.StarTreeRoutingRule]] picks, and
  * their answers, over a small fact table with null dims and a
  * nullable metric: a grouped query whose filter pins every non-group
  * slice dim projects the slice (no aggregate); every other routed
  * query merges slice rows, in one task while the rollup is within
  * `spark.sql.files.openCostInBytes` and through an exchange above it.
  * Every answer equals the unrouted fact scan. */
class StarTreeShapeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-startree-shape").toString
  private lazy val factPath = s"$dir/fact.parquet"

  /** 2,000 rows over (d1, d2, d3) with nulls in d1, d2 and the metric,
    * and the tree over all three dims, its rollup persisted. */
  private lazy val tree: StarTree.Index = {
    (0 until 2000).map { i =>
      (if (i % 11 == 0) None else Some(Seq("a", "b", "c", "d")(i % 4)),
        if (i % 13 == 0) None else Some(i % 5),
        Seq("x", "y", "z")(i % 3),
        if (i % 7 == 0) None else Some((i * 31) % 41))
    }.toDF("d1", "d2", "d3", "m").repartition(2).write.parquet(factPath)
    val built = StarTree.build(spark.read.parquet(factPath),
      Seq("d1", "d2", "d3"), Seq("m"), sketchLgK = 12)
    built.rollup.write.parquet(s"$dir/rollup.parquet")
    built.copy(rollup = spark.read.parquet(s"$dir/rollup.parquet"))
  }

  private val aggs: Seq[Column] = Seq(sum("m").as("s"), min("m").as("mn"),
    max("m").as("mx"), count(lit(1)).as("c"), count("m").as("cm"),
    avg("m").as("a"), hll_sketch_estimate(hll_sketch_agg(col("m"), lit(12))).as("h"))

  /** (name, filter, pins every non-group slice dim of a d1 group-by) */
  private val filters: Seq[(String, Option[Column], Boolean)] = Seq(
    ("no filter", None, true),
    ("pinned =", Some(col("d2") === 3 && lit("x") === col("d3")), true),
    ("range", Some(col("d2") > 2), false),
    ("IN", Some(col("d2").isin(1, 3)), false),
    ("OR over a pinned dim", Some(col("d2") === 1 && (col("d3") === "x" || col("d3") === "y")), false),
    ("pin on a group dim", Some(col("d1") === "a"), true),
    ("group pin and a range", Some(col("d1") === "b" && col("d2") > 1), false),
    ("no slice row", Some(col("d2") === 999), true))

  private def query(fact: DataFrame, grouped: Boolean, filter: Option[Column]) = {
    val in = filter.map(fact.where).getOrElse(fact)
    if (grouped) in.groupBy("d1").agg(aggs.head, aggs.tail: _*)
    else in.agg(aggs.head, aggs.tail: _*)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private val cases = for {
    grouped <- Seq(false, true)
    (name, filter, pins) <- filters
  } yield (s"${if (grouped) "grouped" else "global"} / $name", grouped, filter,
    grouped && pins)

  /** Every case's routed answer, plan and job count in `session`,
    * checked against the unrouted scan. Returns (case, direct
    * projection, merge has an exchange, jobs). */
  private def routedCases(session: SparkSession): Seq[(String, Boolean, Boolean, Int)] = {
    val index = tree
    val fact = session.read.parquet(factPath)
    val expected = cases.map { case (n, g, f, _) => n -> rows(query(fact, g, f)) }.toMap
    Graft.withIndexes(session, trees = Seq(factPath -> index)) {
      cases.map { case (name, grouped, filter, _) =>
        val df = query(fact, grouped, filter)
        val (got, jobs) = jobsOf(rows(df))
        assert(got == expected(name), s"$name: routed answer differs from the fact scan")
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("fact.parquet"), s"$name did not route:\n$plan")
        val direct = df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.isEmpty
        (name, direct, plan.contains("Exchange"), jobs)
      }
    }
  }

  test("pinned group-bys project the slice; every other route merges in one job") {
    routedCases(spark).zip(cases).foreach { case ((name, direct, exchange, jobs), c) =>
      assert(direct == c._4, s"$name: direct projection = $direct")
      assert(!exchange, s"$name: the merge of a small rollup kept its exchange")
      assert(jobs == 1, s"$name ran $jobs jobs")
    }
  }

  test("a global aggregate over no slice row is one row: NULL sum, 0 count") {
    val index = tree
    val fact = spark.read.parquet(factPath)
    val out = Graft.withIndexes(spark, trees = Seq(factPath -> index)) {
      query(fact, grouped = false, Some(col("d2") === 999)).collect()
    }
    assert(out.length == 1)
    assert(out.head.isNullAt(0) && out.head.getLong(3) == 0L && out.head.getLong(4) == 0L)
  }

  test("above the open-cost bound every merge keeps its exchange") {
    val session = spark.newSession()
    session.conf.set("spark.sql.files.openCostInBytes", "1")
    routedCases(session).zip(cases).foreach { case ((name, direct, exchange, _), c) =>
      assert(direct == c._4, s"$name: direct projection = $direct")
      assert(exchange == !direct, s"$name: exchange = $exchange")
    }
  }
}
