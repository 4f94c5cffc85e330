package graft

import graft.pql.CorpusHarness

/** Chunked driver for the full golden-corpus sweep: runs corpus lines
  * [start, end) through [[CorpusHarness.compareLine]] and appends one
  * `id<TAB>matched<TAB>mode<TAB>reason` line per query to `outFile` —
  * resumable, so arbitrarily long sweeps compose from bounded
  * invocations (`CorpusFullSpec` is the single-process variant). */
object CorpusSweep {
  /** Thousands of micro-queries over an 8000-row cached fixture:
    * single-partition shuffles and no AQE — AQE's stage-by-stage
    * resubmission and multi-partition exchanges drown the scheduler at
    * this job rate (measured: 12-partition+AQE ran ~100× slower). */
  val MicroQueryConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.adaptive.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val Array(startS, endS, outFile) = args.take(3)
    val (start, end) = (startS.toInt, endS.toInt)
    val spark = LocalSession(MicroQueryConfs: _*)
    val fx = CorpusHarness.fixture(spark)
    // GRAFT_CORPUS_HYBRID=1: answer the PQL side from the stitched
    // offline∪realtime hybrid view (HybridClusterIntegrationTest mode)
    val hybrid = sys.env.get("GRAFT_CORPUS_HYBRID").contains("1")
    // GRAFT_CORPUS_STARTREE=1: mined star-tree rollups registered and
    // the routing rule active; routable lines answer from rollups
    val startree = sys.env.get("GRAFT_CORPUS_STARTREE").contains("1")
    // GRAFT_CORPUS_DICT=1: dictionary forward-index layout registered
    // over the fact copy; routable aggregates and ordered selections
    // answer from the encoded copy via DictRoutingRule
    val dict = sys.env.get("GRAFT_CORPUS_DICT").contains("1")
    val pqlTable =
      if (hybrid) CorpusHarness.hybridView(spark)
      else if (startree) {
        graft.Graft.enable(spark)
        val specs = CorpusHarness.registerCorpusTrees(spark, fx)
        specs.foreach(s => println(s"[sweep] tree dims=${s.dims.mkString("+")} " +
          s"metrics=${s.metrics.size} mined-cover=${s.minedCover}"))
        spark.read.parquet(CorpusHarness.stFactDir())
      } else if (dict) {
        graft.Graft.enable(spark)
        val idx = CorpusHarness.registerCorpusDict(spark, fx)
        println(s"[sweep] dict layout: ${idx.dicts.size} encoded columns")
        spark.read.parquet(CorpusHarness.dictFactDir())
      } else fx.mv
    if (hybrid) println("[sweep] HYBRID mode: PQL side reads the stitched view")
    if (startree) println("[sweep] STARTREE mode: routing rule active over the fact segment")
    if (dict) println("[sweep] DICT mode: dictionary layout registered over the fact segment")
    val lines = fx.lines.slice(start, end)
    val out = new java.io.PrintWriter(new java.io.FileWriter(outFile, true))
    val t0 = System.nanoTime()
    try {
      lines.grouped(500).foreach { chunk =>
        val os = CorpusHarness.compareAll(spark, fx, chunk,
          parallelism = LocalSession.cpus, pqlTable = pqlTable)
        os.foreach(o => out.println(
          s"${o.id}\t${o.matched}\t${o.mode}\t${o.reason.replace('\t', ' ').replace('\n', ' ')}"))
        out.flush()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[sweep] ${chunk.last.id + 1}%5d done, " +
          f"${os.count(_.matched)}%3d/${os.size} matched in chunk, $secs%.0f s")
      }
      if (startree) {
        // routed census: how many of the swept lines the optimizer
        // actually answered from a rollup (plan-level, no execution)
        val routed = lines.count(l =>
          (try Some(graft.pql.Pql.parse(l.pql))
          catch { case _: IllegalArgumentException => None })
            .exists(CorpusHarness.isRouted(_, pqlTable)))
        println(s"[sweep] routed $routed/${lines.size} swept lines " +
          "answered from star-tree rollups")
      }
      if (dict) {
        val routed = lines.count(l =>
          (try Some(graft.pql.Pql.parse(l.pql))
          catch { case _: IllegalArgumentException => None })
            .exists(CorpusHarness.dictCensus(_, pqlTable)._1))
        println(s"[sweep] routed $routed/${lines.size} swept lines " +
          "answered from the dictionary-encoded copy")
      }
    } finally out.close()
    spark.stop()
  }
}
