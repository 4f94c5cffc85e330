package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pql.Pql
import graft.sources.{SortedLayout, Tables}

/** Sorted-segment ordered read ([[graft.plans.SortedPageRule]] over
  * [[graft.sources.SortedLayout]]): pages over a range-partitioned
  * sorted layout must read only the head/tail files — and return
  * exactly what the full-scan plan returns. The layout is DETECTED from
  * parquet footers, so an unsorted table or a page ordered by a
  * non-layout column silently falls back. Every page is built twice,
  * from PQL and through the DataFrame API, and the route is the rule's
  * in both: building either frame runs no job. */
class SortedLayoutSpec extends SparkSpec {
  import spark.implicits._

  Graft.enable(spark)

  private lazy val fact = Tables.load(spark, sfDir, "lineitem")

  /** lineitem rewritten range-partitioned + sorted by l_orderkey into
    * 8 disjoint-range files — the Ingest sorted-segment shape. */
  private lazy val sortedDir: String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_sorted_li_" +
      ProcessHandle.current().pid()
    fact.repartitionByRange(8, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(out)
    out
  }

  private def totalFiles: Int = spark.read.parquet(sortedDir).inputFiles.length

  /** The page `pql` over `over`, and the same page through the
    * DataFrame API (`api` applied to `over`); asserts neither build
    * runs a job. */
  private def pages(pql: String, over: DataFrame)(api: DataFrame => DataFrame)
      : Seq[(String, DataFrame)] = {
    val built = Seq(
      "pql" -> jobsOf(Pql.toDataFrame(Pql.parse(pql), _ => over)),
      "api" -> jobsOf(api(over)))
    built.foreach { case (via, (_, jobs)) => assert(jobs == 0, s"building via $via ran $jobs jobs") }
    built.map { case (via, (df, _)) => via -> df }
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("layout detection: sorted copy yes, original no, non-layout column no") {
    val sorted = spark.read.parquet(sortedDir)
    val layout = SortedLayout.layoutFor(sorted, "l_orderkey")
    assert(layout.isDefined && layout.get.size == totalFiles)
    // ranges really are disjoint and ASC
    val l = layout.get
    l.zip(l.drop(1)).foreach { case (a, b) => assert(a.maxD <= b.minD) }
    // the original table is not range-partitioned on l_orderkey
    assert(SortedLayout.layoutFor(fact, "l_orderkey").isEmpty)
    // a column the copy is NOT sorted by has overlapping ranges
    assert(SortedLayout.layoutFor(sorted, "l_partkey").isEmpty)
  }

  test("ascending page reads only head files and matches the full-scan answer") {
    // total ORDER BY (all selected columns) — tie order between the
    // pruned and the full-scan plan is otherwise unconstrained
    val pql = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem_sorted " +
      "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 20, 15"
    // same page from the plain plan over the UNSORTED original
    val expect = rows(fact.select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").offset(20).limit(15))
    pages(pql, spark.read.parquet(sortedDir)) {
      _.select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").offset(20).limit(15)
    }.foreach { case (via, fast) =>
      assert(fast.inputFiles.length < totalFiles,
        s"$via: expected pruned subset, read ${fast.inputFiles.length}/$totalFiles files")
      assert(rows(fast) == expect, via)
    }
  }

  test("a computed select list keeps the cut") {
    val pql = "SELECT l_orderkey, l_linenumber, add(l_quantity, 1) FROM lineitem_sorted " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 12"
    def api(df: DataFrame) = df.select($"l_orderkey", $"l_linenumber", ($"l_quantity" + 1).as("q"))
      .orderBy($"l_orderkey", $"l_linenumber").limit(12)
    val expect = rows(api(fact))
    pages(pql, spark.read.parquet(sortedDir))(api).foreach { case (via, fast) =>
      assert(fast.inputFiles.length < totalFiles, via)
      assert(rows(fast) == expect, via)
    }
  }

  test("descending page reads only tail files") {
    val pql = "SELECT l_orderkey, l_quantity FROM lineitem_sorted " +
      "ORDER BY l_orderkey DESC, l_quantity DESC LIMIT 10"
    val expect = rows(fact.select($"l_orderkey", $"l_quantity")
      .orderBy($"l_orderkey".desc, $"l_quantity".desc).limit(10))
    pages(pql, spark.read.parquet(sortedDir)) {
      _.select($"l_orderkey", $"l_quantity")
        .orderBy($"l_orderkey".desc, $"l_quantity".desc).limit(10)
    }.foreach { case (via, fast) =>
      assert(fast.inputFiles.length < totalFiles, via)
      assert(rows(fast) == expect, via)
    }
  }

  test("filtered page expands adaptively and still matches") {
    val pql = "SELECT l_orderkey, l_quantity FROM lineitem_sorted " +
      "WHERE l_quantity > 10 ORDER BY l_orderkey LIMIT 25"
    val expect = rows(fact.filter($"l_quantity" > 10)
      .select($"l_orderkey", $"l_quantity").orderBy($"l_orderkey").limit(25))
    pages(pql, spark.read.parquet(sortedDir)) {
      _.filter($"l_quantity" > 10).select($"l_orderkey", $"l_quantity")
        .orderBy($"l_orderkey").limit(25)
    }.foreach { case (via, fast) =>
      assert(fast.inputFiles.length < totalFiles, via)
      // l_orderkey has ~4 lines per order: the secondary order is
      // unconstrained in BOTH plans, so compare the row multisets
      assert(rows(fast).sortBy(_.toString) == expect.sortBy(_.toString), via)
    }
  }

  test("a page larger than the table falls back to the plain plan") {
    val pql = "SELECT l_orderkey FROM lineitem_sorted " +
      "ORDER BY l_orderkey LIMIT 10000000"
    pages(pql, spark.read.parquet(sortedDir)) {
      _.select($"l_orderkey").orderBy($"l_orderkey").limit(10000000)
    }.foreach { case (via, df) =>
      assert(df.inputFiles.length == totalFiles, via)
      assert(df.count() == fact.count(), via)
    }
  }

  test("a page over files of at most one parquet page probes only when the limit is lower") {
    val pql = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem_sorted " +
      "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 20, 15"
    def api(df: DataFrame) = df.select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").offset(20).limit(15)
    val expect = rows(api(fact))
    val sorted = spark.read.parquet(sortedDir)
    assert(SortedLayout.layoutFor(sorted, "l_orderkey").get.forall(_.rows <= 20000))
    // every file is under parquet's default 20,000-row page limit:
    // the bound could skip no page, so planning the page runs no job
    pages(pql, sorted)(api).foreach { case (via, fast) =>
      assert(jobsOf(fast.queryExecution.optimizedPlan)._2 == 0, via)
      assert(fast.inputFiles.length < totalFiles, via)
      assert(rows(fast) == expect, via)
    }
    // a limit below the file size brings the boundary probe back, at
    // optimization
    val session = spark.newSession()
    Graft.enable(session)
    session.conf.set("parquet.page.row.count.limit", "100")
    pages(pql, session.read.parquet(sortedDir))(api).foreach { case (via, probed) =>
      assert(jobsOf(probed.queryExecution.optimizedPlan)._2 == 1, s"$via: no boundary probe")
      assert(probed.queryExecution.optimizedPlan.toString.contains("Filter"),
        s"$via: no bound predicate:\n${probed.queryExecution.optimizedPlan}")
      assert(rows(probed) == expect, via)
    }
  }

  test("the boundary keeps a secondary key's nulls where its null ordering puts them") {
    // 4 files of 1,000 rows sorted on k, 3 rows per k, every 5th s null
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_nulls").toString + "/t"
    val source = spark.range(4000).select(($"id" / 3).cast("long").as("k"),
      when($"id" % 5 =!= 0, $"id" % 7).as("s"))
    source.repartitionByRange(4, $"k").sortWithinPartitions($"k").write.parquet(dir)
    val session = spark.newSession()
    Graft.enable(session)
    session.conf.set("parquet.page.row.count.limit", "100")
    val table = session.read.parquet(dir)
    for (s <- Seq($"s".asc_nulls_first, $"s".asc_nulls_last,
        $"s".desc_nulls_first, $"s".desc_nulls_last); needed <- 20 to 31) {
      val page = table.orderBy($"k", s).limit(needed)
      assert(page.queryExecution.optimizedPlan.toString.contains("Filter"), s"$s: no bound")
      // the expected page sorts the generated rows, which no rule cuts
      assert(rows(page) == rows(source.orderBy($"k", s).limit(needed)), s"$s, $needed rows")
    }
  }

  test("the rule cuts a page once: one probe per QueryExecution, no footer read of the cut") {
    def page(s: SparkSession, dir: String) = s.read.parquet(dir)
      .select($"l_orderkey", $"l_quantity").orderBy($"l_orderkey").offset(30).limit(10)
    val expect = rows(page(spark, sortedDir))
    // rules from Graft.enable run in their own fixed-point batch,
    // rules from spark.sql.extensions in the operator-optimization
    // batches, each iteration of both re-applying the rule
    val enabled = spark.newSession()
    Graft.enable(enabled)
    val built = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      for (s <- Seq(enabled, built)) {
        s.conf.set("parquet.page.row.count.limit", "100")
        // a copy no page has read yet: one job reads its footers, one
        // probes the boundary. Cutting the cut again would read the
        // cut's footers under a key of their own, one more job.
        val dir = java.nio.file.Files.createTempDirectory("graft_sorted_once").toString + "/t"
        fact.repartitionByRange(8, $"l_orderkey").sortWithinPartitions($"l_orderkey")
          .write.parquet(dir)
        val df = page(s, dir)
        assert(jobsOf(df.queryExecution.optimizedPlan)._2 == 2)
        assert(df.inputFiles.length < totalFiles)
        // a frame over the optimized plan is optimized again: no job
        val planned = org.apache.spark.sql.GraftSqlBridge.planned(df)
        assert(jobsOf(planned.queryExecution.optimizedPlan)._2 == 0)
        assert(planned.inputFiles.toSeq == df.inputFiles.toSeq)
        assert(rows(planned) == expect)
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
