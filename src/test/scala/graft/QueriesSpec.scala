package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.pql.CorpusHarness.Layout
import graft.queries.CorpusQueries

/** Smoke: every declared query runs and yields rows at sf0.001, and
  * every oracle key refers to a declared query. A row with a `matched`
  * column (the corpus-harness gate rows) must also match on every line:
  * its self-oracle pins each cell to true. Each gate row also gets one
  * test per layout over the cells of that same run, named as the
  * per-layout rows the gate rows replaced (`<row>_sample` for the plain
  * table, `<row>_<layout>` for the others), so a failing layout is named
  * on its own. */
class QueriesSpec extends SparkSpec {

  /** Each row is built once: a gate row's layout tests read the cells
    * its row test already compared. */
  private val frames = mutable.Map.empty[String, Try[DataFrame]]
  private def frame(name: String): DataFrame =
    frames.getOrElseUpdate(name, Try(SparkEntry.queries(name)(spark, sfDir))).get

  private def assumeInputs(name: String): Unit =
    if (CorpusQueries.CorpusReplayRows(name))
      assumeFile(graft.pql.OnTimeCorpus.CorpusPath)

  private def assertAllMatched(name: String, df: DataFrame): Unit = {
    assert(df.count() > 0, s"$name returned 0 rows")
    if (df.columns.contains("matched")) {
      val unmatched = df.where(!coalesce(col("matched"), lit(false))).collect()
      assert(unmatched.isEmpty,
        s"$name: ${unmatched.length} rows not matched; first 5: ${unmatched.take(5).mkString(", ")}")
    }
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  SparkEntry.queries.keys.foreach { name =>
    test(s"$name runs and returns rows at sf0.001") {
      assumeInputs(name)
      val df = frame(name)
      assert(df.columns.nonEmpty)
      assertAllMatched(name, df)
    }
  }

  for (row <- CorpusQueries.GateRows; layout <- Layout.all) {
    val slice = if (layout == Layout.Plain) "sample" else layout.name
    test(s"${row}_$slice runs and returns rows at sf0.001") {
      assumeInputs(row)
      assertAllMatched(s"$row/${layout.name}", frame(row).where(col("layout") === layout.name))
    }
  }
}
