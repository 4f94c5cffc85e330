package graft

import org.apache.spark.sql.functions.{coalesce, col, lit}

/** Smoke: every declared query runs and yields rows at sf0.001, and
  * every oracle key refers to a declared query. A row with a `matched`
  * column (the corpus-harness gate rows) must also match on every line:
  * its self-oracle pins each cell to true. */
class QueriesSpec extends SparkSpec {

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      if (graft.queries.CorpusQueries.CorpusReplayRows(name))
        assumeFile(graft.pql.OnTimeCorpus.CorpusPath)
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
      if (df.columns.contains("matched")) {
        val unmatched = df.where(!coalesce(col("matched"), lit(false))).collect()
        assert(unmatched.isEmpty,
          s"$name: ${unmatched.length} rows not matched; first 5: ${unmatched.take(5).mkString(", ")}")
      }
    }
  }
}
