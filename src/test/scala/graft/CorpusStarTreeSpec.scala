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
  *  - every line compared, routed or not, must match the plain-table
  *    hsql twin.
  */
class CorpusStarTreeSpec extends SparkSpec {

  test("mined trees route predicted lines only; routed answers match the twin") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val fx = CorpusHarness.fixture(spark)
    val specs = fx.treeSpecs
    assert(specs.nonEmpty, "mining found no tree-worthy workload")
    assert(specs.map(_.minedCover).sum > 100,
      s"implausibly small mined cover: $specs")
    val predicted = CorpusHarness.predictedRoutedIds(fx, specs, OnTimeCorpus.corpus)
    assert(predicted.nonEmpty)

    // every 40th line plus every predicted-routed id, each compared
    // and routed in one pass. Two safety claims, asserted separately
    // because a plan can legitimately read NEITHER source (LIMIT 0 /
    // contradictory filters fold the scan away; global COUNT(*) goes
    // metadata-only):
    //  1. the rule NEVER rewrites a shape the model calls
    //     non-routable (no accidental rewrites), and
    //  2. a predicted line never silently falls back to the fact
    //     scan (the rule really covers what the model promises).
    val ids = (CorpusHarness.sampleIds(40) ++ predicted.toSeq.sorted).distinct
    val outcomes = CorpusHarness.compare(spark, CorpusHarness.corpusLines(ids),
      Seq(Layout.StarTree))(Layout.StarTree)
    val route = outcomes.map(o => o.id -> o.route).toMap
    val unexpected = ids.filter(i => route(i).routed && !predicted.contains(i))
    val fellBack = ids.filter(i => predicted.contains(i) && route(i).scansFact)
    assert(unexpected.isEmpty,
      s"rule rewrote shapes the mining model calls non-routable: ${unexpected.take(5)}")
    assert(fellBack.isEmpty,
      s"predicted-routable lines fell back to the fact scan: ${fellBack.take(5)}")
    assert(outcomes.count(_.route.routed) > 0, "no line routed")

    // routed and non-routed lines alike must match the plain-table twin
    assert(outcomes.forall(_.matched),
      outcomes.filterNot(_.matched).take(5).mkString("; "))
  }
}
