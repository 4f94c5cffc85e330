package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pql.{CorpusHarness, OnTimeCorpus, QueryGen, QueryGenB}
import graft.pql.CorpusHarness.Layout

/** The golden-corpus and generated-query gates (BASELINE.md B1):
  * result-level execution of PQL lines against their paired hsqls over
  * synthesized OnTime-schema data — see [[graft.pql.CorpusHarness]]
  * for the comparison semantics (`ClusterIntegrationTestUtils.java:506-806`).
  *
  * Two kinds of rows:
  *  - one row per (source × layout). A source is a line set: every
  *    40th line of the reference's 10K corpus (250 lines spanning
  *    selection / aggregation / group-by / MV shapes), or the first 50
  *    lines of the mode-A ([[graft.pql.QueryGen]], the reference's
  *    randomized QueryGenerator) or mode-B ([[graft.pql.QueryGenB]],
  *    graft's full PQL surface) grammar at its fixed seed. A layout
  *    ([[CorpusHarness.Layout]]) is what the PQL side reads: the plain
  *    table, the hybrid stitched view, the star-tree-routed or the
  *    dictionary-routed fact copy; the hsql twin always reads the plain
  *    table, so a stitch, routing or decode defect flips `matched`.
  *    Each row emits (line_id, matched); its self-oracle pins every
  *    line to matched=TRUE, so one regression fails the oracle compare.
  *  - four DuckDB-valued rows: the first aggregation-only lines of the
  *    corpus and of each grammar's pool (`q_corpus_duck`,
  *    `q_querygen_duck`, `q_querygen_duck_b`), whose values
  *    hash-compare against the paired hsqls executed BY DUCKDB over a
  *    parquet dump of the same table ({OUT} placeholder, substituted by
  *    Verify), and `q_querygen_duck_sel`, deterministic DISTINCT
  *    selections compared row for row.
  *
  * The full 10,000-line sweep runs in `CorpusFullSpec` (GRAFT_CORPUS_FULL=1
  * gated — ~20 min); wider sweeps over any source and layouts run in
  * `graft.HarnessSweep`.
  */
object CorpusQueries {

  val SampleStep = 40
  val DuckLines = 40

  /** Generated-query gate sizes: 50 mode-A lines per layout, plus the
    * first 25 aggregation-only lines of a 300-line pool value-checked
    * by DuckDB. QueryGenSpec runs 500 further lines per round. */
  val GenSampleLines = 50
  val GenPoolSize = 300
  val GenDuckLines = 25

  /** Mode-B gate sizes: 50 lines per layout, the first 35
    * DuckDB-valuable aggregation-only lines of a 600-line pool, and 40
    * deterministic DISTINCT selections — together with the mode-A duck
    * slice, 100 generated lines valued by an external engine. */
  val GenBSampleLines = 50
  val GenBPoolSize = 600
  val GenBDuckLines = 35
  val GenBSelLines = 40

  /** A gate source: its rows are `prefix_<layout>`, except the plain
    * layout's, which is `plainRow`. `ids` are its line ids, known
    * without reading any file, so the self-oracles stay static. */
  private final case class Source(prefix: String, plainRow: String, ids: Seq[Int],
      lines: () => Seq[OnTimeCorpus.Line]) {
    def row(layout: Layout): String =
      if (layout == Layout.Plain) plainRow else s"${prefix}_${layout.name}"
  }

  private val CorpusSource = Source("q_corpus", "q_corpus_sample",
    CorpusHarness.sampleIds(SampleStep),
    () => CorpusHarness.corpusLines(CorpusHarness.sampleIds(SampleStep)))

  private val Sources = Seq(
    CorpusSource,
    Source("q_querygen", "q_querygen_sample", 0 until GenSampleLines,
      () => QueryGen.lines(GenSampleLines)),
    Source("q_querygen_graft", "q_querygen_graft", 0 until GenBSampleLines,
      () => QueryGenB.lines(GenBSampleLines)))

  private def gateRow(spark: SparkSession, src: Source, layout: Layout): DataFrame = {
    import spark.implicits._
    CorpusHarness.compare(spark, src.lines(), Seq(layout))(layout)
      .map(o => (o.id, o.matched))
      .toDF("line_id", "matched")
      .orderBy("line_id")
  }

  /** The DuckDB-valued aggregation slices' lines. */
  private def corpusDuckLines: Seq[OnTimeCorpus.Line] =
    CorpusHarness.aggOnly(OnTimeCorpus.corpus).take(DuckLines)
  def genDuckLines: Seq[OnTimeCorpus.Line] =
    CorpusHarness.aggOnly(QueryGen.lines(GenPoolSize)).take(GenDuckLines)
  def genBDuckLines: Seq[OnTimeCorpus.Line] =
    QueryGenB.duckAggLines(GenBDuckLines, GenBPoolSize)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (for (src <- Sources; layout <- Layout.all)
      yield src.row(layout) -> ((s: SparkSession, _: String) => gateRow(s, src, layout))).toMap ++
    Map[String, (SparkSession, String) => DataFrame](
      "q_corpus_duck" -> ((s, _) => CorpusHarness.duckSlice(s, corpusDuckLines)),
      "q_querygen_duck" -> ((s, _) => CorpusHarness.duckSlice(s, genDuckLines)),
      // mode-B aggregation-only lines (MV slot twins, MINMAXRANGE,
      // DISTINCTCOUNT, exact percentiles → quantile_cont, arithmetic
      // transforms)
      "q_querygen_duck_b" -> ((s, _) => CorpusHarness.duckSlice(s, genBDuckLines)),
      "q_querygen_duck_sel" -> ((s, _) =>
        CorpusHarness.duckSelSlice(s, QueryGenB.duckSelLines(GenBSelLines))))

  /** The rows that replay the reference's corpus lines: they read the
    * corpus file ([[graft.pql.OnTimeCorpus.CorpusPath]]) and fail with
    * its path where it is missing. Every other row of this module runs
    * on the generated grammars and needs no file. */
  val CorpusReplayRows: Set[String] = Layout.all.map(CorpusSource.row).toSet + "q_corpus_duck"

  /** Static oracles. `q_corpus_duck`'s is built from the corpus lines
    * themselves, so it is present only where the corpus file exists;
    * every other oracle needs no file. */
  def oracles: Map[String, String] =
    (for (src <- Sources; layout <- Layout.all)
      yield src.row(layout) -> CorpusHarness.selfOracle(src.ids)).toMap ++
    Map(
      "q_querygen_duck" -> CorpusHarness.duckOracle(genDuckLines),
      "q_querygen_duck_b" -> CorpusHarness.duckOracle(genBDuckLines),
      "q_querygen_duck_sel" -> CorpusHarness.duckSelOracle(QueryGenB.duckSelLines(GenBSelLines))
    ) ++ (if (OnTimeCorpus.corpusPresent)
      Map("q_corpus_duck" -> CorpusHarness.duckOracle(corpusDuckLines))
    else Map.empty)
}
