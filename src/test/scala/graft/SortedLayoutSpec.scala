package graft

import org.apache.spark.sql.functions._
import graft.pql.Pql
import graft.sources.{SortedLayout, Tables}

/** Sorted-segment ordered read ([[graft.sources.SortedLayout]]): pages
  * over a range-partitioned sorted layout must read only the head/tail
  * files — and return exactly what the full-scan plan returns. The
  * layout is DETECTED from parquet footers, so an unsorted table or a
  * page ordered by a non-layout column silently falls back. */
class SortedLayoutSpec extends SparkSpec {
  import spark.implicits._

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

  private def resolve(name: String) =
    if (name == "lineitem_sorted") spark.read.parquet(sortedDir)
    else Tables.load(spark, sfDir, name)

  private def totalFiles: Int = spark.read.parquet(sortedDir).inputFiles.length

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
    val fast = Pql.toDataFrame(Pql.parse(pql), resolve)
    assert(fast.inputFiles.length < totalFiles,
      s"expected pruned subset, read ${fast.inputFiles.length}/$totalFiles files")
    // same page from the plain plan over the UNSORTED original
    val expect = fact.select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").offset(20).limit(15)
      .collect().map(_.toSeq)
    assert(fast.collect().map(_.toSeq).toSeq == expect.toSeq)
  }

  test("descending page reads only tail files") {
    val pql = "SELECT l_orderkey, l_quantity FROM lineitem_sorted " +
      "ORDER BY l_orderkey DESC, l_quantity DESC LIMIT 10"
    val fast = Pql.toDataFrame(Pql.parse(pql), resolve)
    assert(fast.inputFiles.length < totalFiles)
    val expect = fact.select($"l_orderkey", $"l_quantity")
      .orderBy($"l_orderkey".desc, $"l_quantity".desc).limit(10)
      .collect().map(_.toSeq)
    assert(fast.collect().map(_.toSeq).toSeq == expect.toSeq)
  }

  test("filtered page expands adaptively and still matches") {
    val pql = "SELECT l_orderkey, l_quantity FROM lineitem_sorted " +
      "WHERE l_quantity > 10 ORDER BY l_orderkey LIMIT 25"
    val fast = Pql.toDataFrame(Pql.parse(pql), resolve)
    assert(fast.inputFiles.length < totalFiles)
    val expect = fact.filter($"l_quantity" > 10)
      .select($"l_orderkey", $"l_quantity")
      .orderBy($"l_orderkey").limit(25).collect().map(_.toSeq)
    // l_orderkey has ~4 lines per order: compare as multisets of rows
    // is not needed — the secondary order is unconstrained in BOTH
    // plans, so compare the primary column and the row multiset
    assert(fast.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      expect.toSeq.sortBy(_.toString))
  }

  test("a page larger than the table falls back to the plain plan") {
    val pql = "SELECT l_orderkey FROM lineitem_sorted " +
      "ORDER BY l_orderkey LIMIT 10000000"
    val df = Pql.toDataFrame(Pql.parse(pql), resolve)
    assert(df.inputFiles.length == totalFiles)
    assert(df.count() == fact.count())
  }

  test("a page over files of at most one parquet page probes only when the limit is lower") {
    val pql = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem_sorted " +
      "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 20, 15"
    val expect = fact.select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").offset(20).limit(15)
      .collect().map(_.toSeq).toSeq
    val sorted = spark.read.parquet(sortedDir)
    assert(SortedLayout.layoutFor(sorted, "l_orderkey").get.forall(_.rows <= 20000))
    // every file is under parquet's default 20,000-row page limit:
    // the bound could skip no page, so building the frame runs no job
    val (fast, jobs) = jobsOf(Pql.toDataFrame(Pql.parse(pql), _ => sorted))
    assert(jobs == 0, s"building the page ran $jobs jobs")
    assert(fast.inputFiles.length < totalFiles)
    assert(fast.collect().map(_.toSeq).toSeq == expect)
    // a limit below the file size brings the boundary probe back
    val session = spark.newSession()
    session.conf.set("parquet.page.row.count.limit", "100")
    val small = session.read.parquet(sortedDir)
    val (probed, probeJobs) = jobsOf(Pql.toDataFrame(Pql.parse(pql), _ => small))
    assert(probeJobs >= 1, "the boundary probe did not run")
    assert(probed.queryExecution.optimizedPlan.toString.contains("Filter"),
      s"no bound predicate:\n${probed.queryExecution.optimizedPlan}")
    assert(probed.collect().map(_.toSeq).toSeq == expect)
  }
}
