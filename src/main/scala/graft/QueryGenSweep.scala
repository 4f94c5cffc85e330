package graft

import graft.pql.{CorpusHarness, QueryGen}

/** Multi-seed sweep driver for the generated-query gate: runs
  * `linesPerSeed` [[QueryGen]] lines for each seed in
  * [seedStart, seedStart + numSeeds) through the corpus harness
  * comparator and prints every mismatch with its (seed, id, pql, sql)
  * so it reproduces exactly. The per-round suite runs the fixed-seed
  * 500 plus a rotating-seed 300; this main is the wide proactive probe
  * (tens of thousands of fresh combinations in one invocation). */
object QueryGenSweep {
  def main(args: Array[String]): Unit = {
    val seedStart = if (args.nonEmpty) args(0).toLong else 1L
    val numSeeds = if (args.length > 1) args(1).toInt else 10
    val linesPerSeed = if (args.length > 2) args(2).toInt else 500
    val spark = LocalSession(CorpusSweep.MicroQueryConfs: _*)
    val fx = CorpusHarness.fixture(spark)
    // GRAFT_QG_HYBRID=1 / GRAFT_QG_STARTREE=1: answer the PQL side
    // from the stitched hybrid view / the star-tree-routed fact
    // segment (same modes as CorpusSweep) — generated shapes through
    // the boundary stitch and the routing rewrite at sweep width
    val hybrid = sys.env.get("GRAFT_QG_HYBRID").contains("1")
    val startree = sys.env.get("GRAFT_QG_STARTREE").contains("1")
    // GRAFT_QG_DICT=1: dictionary forward-index layout registered
    // over the fact copy — routable aggregates/ordered selections
    // answer from the encoded copy via DictRoutingRule
    val dict = sys.env.get("GRAFT_QG_DICT").contains("1")
    // GRAFT_QG_GRAMMAR=b sweeps the graft-surface grammar
    // (QueryGenB: percentile family, MV aggregation twins,
    // DISTINCTCOUNT/HLL, HAVING, transform expressions) instead of
    // the reference-shape port
    val grammarB = sys.env.get("GRAFT_QG_GRAMMAR").exists(_.equalsIgnoreCase("b"))
    def genLines(n: Int, seed: Long) =
      if (grammarB) graft.pql.QueryGenB.lines(n, seed) else QueryGen.lines(n, seed)
    if (grammarB) println("[qgsweep] GRAMMAR B: graft-surface shapes")
    val pqlTable =
      if (hybrid) CorpusHarness.hybridView(spark)
      else if (startree) {
        graft.Graft.enable(spark)
        CorpusHarness.registerCorpusTrees(spark, fx)
        spark.read.parquet(CorpusHarness.stFactDir())
      } else if (dict) {
        graft.Graft.enable(spark)
        CorpusHarness.registerCorpusDict(spark, fx)
        spark.read.parquet(CorpusHarness.dictFactDir())
      } else fx.mv
    if (hybrid) println("[qgsweep] HYBRID mode: PQL side reads the stitched view")
    if (startree) println("[qgsweep] STARTREE mode: routing rule active")
    if (dict) println("[qgsweep] DICT mode: dictionary layout registered")
    val t0 = System.nanoTime()
    var total = 0
    var mismatched = 0
    var routed = 0
    (seedStart until seedStart + numSeeds).foreach { seed =>
      val lines = genLines(linesPerSeed, seed)
      if (startree) routed += lines.count { l =>
        val q = try Some(graft.pql.Pql.parse(l.pql))
        catch { case _: IllegalArgumentException => None }
        q.exists(CorpusHarness.isRouted(_, pqlTable))
      }
      if (dict) routed += lines.count { l =>
        val q = try Some(graft.pql.Pql.parse(l.pql))
        catch { case _: IllegalArgumentException => None }
        q.exists(CorpusHarness.dictCensus(_, pqlTable)._1)
      }
      val outcomes = CorpusHarness.compareAll(spark, fx, lines, pqlTable = pqlTable)
      val bad = outcomes.filterNot(_.matched)
      total += outcomes.size
      mismatched += bad.size
      bad.foreach { o =>
        println(s"[qgsweep] MISMATCH seed=$seed id=${o.id} mode=${o.mode}: ${o.reason}")
        println(s"[qgsweep]   pql: ${lines(o.id).pql}")
        println(s"[qgsweep]   sql: ${lines(o.id).hsqls.head}")
      }
      println(f"[qgsweep] seed=$seed: ${outcomes.size - bad.size}/${outcomes.size} matched " +
        f"(${(System.nanoTime() - t0) / 1e9}%.0f s elapsed)")
    }
    println(s"[qgsweep] TOTAL ${total - mismatched}/$total matched across $numSeeds seeds" +
      (if (startree) s" ($routed answered from rollups)" else "") +
      (if (dict) s" ($routed answered from the encoded copy)" else ""))
    if (startree)
      graft.plans.StarTreeRegistry.unregister(CorpusHarness.stFactDir())
    if (dict)
      graft.plans.DictRegistry.unregister(CorpusHarness.dictFactDir())
    spark.stop()
    if (mismatched > 0) sys.exit(1)
  }
}
