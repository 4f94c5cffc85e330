package graft

import graft.pql.{CorpusHarness, OnTimeCorpus, Pql}
import graft.pql.CorpusHarness.Layout

/** Corpus × dictionary-layout routing: [[graft.plans.DictRoutingRule]]
  * must be transparent to results — an aggregate or ordered selection
  * answered from the encoded copy (int dict ids, decode at output)
  * returns exactly what the raw scan returns. Real corpus lines run
  * with the layout registered over the fixture's fact copy:
  *  - the plans' routes prove the rewrite actually fires on both
  *    aggregate and selection shapes (a layout where nothing routes
  *    would pass vacuously), and
  *  - routed and non-routed lines alike must match the plain-table
  *    hsql twin (the split between them is the rule's own business).
  * Generated lines (both grammars) run through the same layout in the
  * `q_querygen` / `q_querygen_graft` gate rows (QueriesSpec), which
  * also hold the dictionary layout's routed floor.
  */
class CorpusDictSpec extends SparkSpec {

  test("dict layout routes corpus shapes; all answers match the plain twin") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val idx = CorpusHarness.fixture(spark).dict
    assert(idx.dicts.nonEmpty, "no string dimensions were encoded")
    // every dictionary must be sorted and within caps (sorted order
    // is what makes range predicates an id range)
    idx.dicts.foreach { case (c, arr) =>
      assert(arr.length <= graft.plans.DictLayout.MaxCardinality)
      assert(arr.sliding(2).forall(w => w.length < 2 || w(0).compareTo(w(1)) < 0),
        s"dictionary for $c is not strictly sorted")
    }

    val lines = CorpusHarness.corpusLines(CorpusHarness.sampleIds(40))

    // the full slice (routed and non-routed) must match the twin
    val outcomes = CorpusHarness.compare(spark, lines, Seq(Layout.Dict))(Layout.Dict)
    assert(outcomes.forall(_.matched),
      outcomes.filterNot(_.matched).take(5).mkString("; "))

    // the rewrite must fire on at least one grouped aggregate AND one
    // ordered selection (the two distinct rewrite paths)
    val routed = lines.zip(outcomes).collect { case (l, o) if o.route.routed => Pql.parse(l.pql) }
    val (routedAgg, routedSel) =
      routed.partition(q => q.select.exists(Pql.isAggExpr) || q.groupBy.nonEmpty)
    assert(routedAgg.nonEmpty, "no aggregate line routed onto the encoded copy")
    assert(routedSel.nonEmpty, "no ordered selection routed onto the encoded copy")
  }
}
