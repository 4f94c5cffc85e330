package graft

import graft.pql.{CorpusHarness, OnTimeCorpus, Pql}
import graft.plans.DictRegistry

/** Corpus × dictionary-layout routing: [[graft.plans.DictRoutingRule]]
  * must be transparent to results — an aggregate or ordered selection
  * answered from the encoded copy (int dict ids, decode at output)
  * returns exactly what the raw scan returns. Real corpus lines and
  * generated lines run with the layout registered over the fixture's
  * fact copy:
  *  - a census proves the rewrite actually fires on a healthy share of
  *    both aggregate and selection shapes (a mode where nothing routes
  *    would pass vacuously), and
  *  - routed and non-routed lines alike must match the plain-table
  *    hsql twin (the split between them is the rule's own business).
  */
class CorpusDictSpec extends SparkSpec {

  test("dict layout routes corpus shapes; all answers match the plain twin") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val fx = CorpusHarness.fixture(spark)
    Graft.enable(spark)
    val idx = CorpusHarness.registerCorpusDict(spark, fx)
    try {
      assert(idx.dicts.nonEmpty, "no string dimensions were encoded")
      // every dictionary must be sorted and within caps (sorted order
      // is what makes range predicates an id range)
      idx.dicts.foreach { case (c, arr) =>
        assert(arr.length <= graft.plans.DictLayout.MaxCardinality)
        assert(arr.sliding(2).forall(w => w.length < 2 || w(0).compareTo(w(1)) < 0),
          s"dictionary for $c is not strictly sorted")
      }

      val table = spark.read.parquet(CorpusHarness.dictFactDir())
      val byId = OnTimeCorpus.corpus.map(l => l.id -> l).toMap
      val ids = CorpusHarness.sampleIds(40)

      // plan census: the rewrite must fire on a non-trivial share of
      // the slice, including at least one grouped aggregate AND one
      // ordered selection (the two distinct rewrite paths)
      var routedAgg = 0
      var routedSel = 0
      ids.foreach { i =>
        val q = Pql.parse(byId(i).pql)
        val (routed, _) = CorpusHarness.dictCensus(q, table)
        if (routed) {
          if (q.select.exists(Pql.isAggExpr) || q.groupBy.nonEmpty) routedAgg += 1
          else routedSel += 1
        }
      }
      assert(routedAgg > 0, "no aggregate line routed onto the encoded copy")
      assert(routedSel > 0, "no ordered selection routed onto the encoded copy")

      // the full slice (routed and non-routed) must match the twin
      val outcomes = CorpusHarness.compareAll(spark, fx,
        ids.map(byId), pqlTable = table)
      assert(outcomes.forall(_.matched),
        outcomes.filterNot(_.matched).take(5).mkString("; "))
    } finally DictRegistry.unregister(CorpusHarness.dictFactDir())
  }

  test("generated lines (both grammars) match through the dict layout") {
    // REGEXP_LIKE predicates (mode A) exercise the per-row decode
    // fallback; percentile/MV/HAVING/transform shapes (mode B) must be
    // left alone or answered identically
    val a = graft.pql.QueryGen.runSample(spark, 40, dict = true)
      .collect().map(r => (r.getInt(0), r.getBoolean(1)))
    assert(a.forall(_._2), s"mode-A mismatches through dict: ${a.filterNot(_._2).take(5).mkString(",")}")
    val b = graft.pql.QueryGenB.runSample(spark, 40, dict = true)
      .collect().map(r => (r.getInt(0), r.getBoolean(1)))
    assert(b.forall(_._2), s"mode-B mismatches through dict: ${b.filterNot(_._2).take(5).mkString(",")}")
  }
}
