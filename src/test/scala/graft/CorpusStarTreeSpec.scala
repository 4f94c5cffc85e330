package graft

import graft.pql.{CorpusHarness, OnTimeCorpus}
import graft.pql.CorpusHarness.Layout

/** Corpus × star-tree routing: the reference's star-tree contract is
  * that a tree-answered query returns EXACTLY what the scan plan
  * returns (`StarTreeIndexOperator` is transparent to results). Here
  * the mined rollup trees are registered over the corpus fixture's
  * parquet segment and real corpus lines run through the routing rule:
  *  - the mining model's prediction of WHICH lines route is equated
  *    with the actual optimized plans (no silent fallbacks, no
  *    accidental rewrites of non-routable shapes), and
  *  - a routed sample must still match the plain-table hsql twin.
  */
class CorpusStarTreeSpec extends SparkSpec {

  test("mined trees route predicted lines only; routed answers match the twin") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val fx = CorpusHarness.fixture(spark)
    val specs = fx.treeSpecs
    assert(specs.nonEmpty, "mining found no tree-worthy workload")
    assert(specs.map(_.minedCover).sum > 100,
      s"implausibly small mined cover: $specs")
    val predicted = CorpusHarness.predictedRoutedIds(fx, specs)
    assert(predicted.nonEmpty)

    // plan census over a deterministic slice that includes routed
    // lines: every 40th line plus the first 40 predicted-routed ids.
    // Two safety claims, asserted separately because a plan can
    // legitimately read NEITHER source (LIMIT 0 / contradictory
    // filters fold the scan away; global COUNT(*) goes metadata-only):
    //  1. the rule NEVER rewrites a shape the model calls
    //     non-routable (no accidental rewrites), and
    //  2. a predicted line never silently falls back to the fact
    //     scan (the rule really covers what the model promises).
    // every predicted id is censused (plan-only, no execution), so a
    // routed count below the mined cover in the full sweep is proven
    // to be constant-folded-empty plans, never a fact-scan fallback
    val ids = (CorpusHarness.sampleIds(40) ++ predicted.toSeq.sorted).distinct
    val census = ids.zip(CorpusHarness.census(spark, Layout.StarTree,
      CorpusHarness.corpusLines(ids))).toMap
    val unexpected = ids.filter(i => census(i).routed && !predicted.contains(i))
    val fellBack = ids.filter(i => predicted.contains(i) && census(i).scansFact)
    assert(unexpected.isEmpty,
      s"rule rewrote shapes the mining model calls non-routable: ${unexpected.take(5)}")
    assert(fellBack.isEmpty,
      s"predicted-routable lines fell back to the fact scan: ${fellBack.take(5)}")
    assert(ids.count(i => census(i).routed) > 0, "census slice routed nothing")

    // routed lines must still match the plain-table twin
    val routedSample = CorpusHarness.corpusLines(predicted.toSeq.sorted.take(60))
    val outcomes = CorpusHarness.compare(spark, routedSample, Seq(Layout.StarTree))(Layout.StarTree)
    assert(outcomes.forall(_.matched),
      outcomes.filterNot(_.matched).take(5).mkString("; "))
  }
}
