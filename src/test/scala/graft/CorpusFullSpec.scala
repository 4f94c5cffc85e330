package graft

import graft.pql.{CorpusHarness, OnTimeCorpus}
import graft.pql.CorpusHarness.Layout

/** The full 10,000-line golden-corpus sweep — the reference's own
  * integration bar (`ClusterIntegrationTestUtils.testQuery` over every
  * line of `On_Time_..._test_queries_10K`). Minutes of wall time (25K+
  * small jobs), so gated behind GRAFT_CORPUS_FULL=1; the always-on
  * sampled gate is [[CorpusSpec]] and the driver-checked
  * `q_corpus`. Lines run on the harness's driver pool
  * ([[CorpusHarness.compare]]) to overlap per-job latency. The same
  * sweep, resumable and over any layouts, is
  * `graft.HarnessSweep corpus 0-10000 <layout,…> <outFile>`. */
class CorpusFullSpec extends SparkSpec {

  private val enabled = sys.env.get("GRAFT_CORPUS_FULL").contains("1")

  test("all 10,000 corpus lines match PQL-vs-hsql (≥9,900 bar, mismatches triaged)") {
    assume(enabled, "set GRAFT_CORPUS_FULL=1 to run the full sweep")
    val t0 = System.nanoTime()
    val outcomes = OnTimeCorpus.corpus.grouped(1000).zipWithIndex.flatMap { case (chunk, i) =>
      val os = CorpusHarness.compare(spark, chunk, Seq(Layout.Plain))(Layout.Plain)
      val done = (i + 1) * 1000
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"$done%5d/10000 lines, ${os.count(_.matched) + 0}%4d matched in chunk, $secs%.0f s elapsed")
      os
    }.toVector
    val bad = outcomes.filterNot(_.matched)
    bad.take(20).foreach(o => info(s"MISMATCH line ${o.id} [${o.mode}]: ${o.reason}"))
    val matched = outcomes.count(_.matched)
    assert(matched >= 9900, s"$matched/10000 matched; ${bad.length} mismatches")
    assert(bad.isEmpty, s"${bad.length} mismatches need triage (see info output)")
  }
}
