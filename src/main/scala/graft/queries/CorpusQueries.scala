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
  *  - one gate row per line source: `q_corpus`, every 40th line of the
  *    reference's 10K corpus (250 lines spanning selection /
  *    aggregation / group-by / MV shapes), and `q_querygen` /
  *    `q_querygen_graft`, the first 50 lines of the mode-A
  *    ([[graft.pql.QueryGen]], the reference's randomized
  *    QueryGenerator) / mode-B ([[graft.pql.QueryGenB]], graft's full
  *    PQL surface) grammar at its fixed seed. Each row runs its lines
  *    through [[CorpusHarness.compare]] once, under every
  *    [[CorpusHarness.Layout]] the PQL side can read: the plain table,
  *    the hybrid stitched view, the star-tree-routed and the
  *    dictionary-routed fact copy. The hsql twin, collected once per
  *    line, always reads the plain table, so a stitch, routing or
  *    decode defect flips `matched`. Each row emits
  *    (line_id, layout, matched); its self-oracle pins every cell to
  *    matched=TRUE, so one regression fails the oracle compare. The
  *    same pass counts each routing layout's routed lines, and a count
  *    below the source's floor (`Source.floors`) fails the row: a
  *    layout that stops routing would otherwise pass every cell as a
  *    plain scan.
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

  /** Generated-query gate sizes: 50 mode-A lines, plus the first 25
    * aggregation-only lines of a 300-line pool value-checked by
    * DuckDB. QueryGenSpec runs 500 further lines per round. */
  val GenSampleLines = 50
  val GenPoolSize = 300
  val GenDuckLines = 25

  /** Mode-B gate sizes: 50 lines, the first 35 DuckDB-valuable
    * aggregation-only lines of a 600-line pool, and 40 deterministic
    * DISTINCT selections — together with the mode-A duck slice, 100
    * generated lines valued by an external engine. */
  val GenBSampleLines = 50
  val GenBPoolSize = 600
  val GenBDuckLines = 35
  val GenBSelLines = 40

  /** A gate source: its row name, its line ids (known without reading
    * any file, so the self-oracles stay static), and the least number
    * of its lines each routing layout must answer from its routed
    * copy. */
  private final case class Source(row: String, ids: Seq[Int],
      lines: () => Seq[OnTimeCorpus.Line], floors: Map[Layout, Int])

  /** The generated rows' floors are the routed counts at the default
    * seeds: star-tree 19 of the 20 mode-A lines whose shape the rule can
    * rewrite (the 20th is a `TOP 0` line whose plan folds to nothing)
    * and all 7 such mode-B lines; dictionary 41 and 19. Their trees are
    * mined from their own lines before any corpus line, and a route is
    * decided by the plan's shape, so the floors hold whether or not the
    * corpus exists. The corpus sample's floors, unmeasured, require
    * only that each routing layout routes at all. */
  private val CorpusSource = Source("q_corpus", CorpusHarness.sampleIds(SampleStep),
    () => CorpusHarness.corpusLines(CorpusHarness.sampleIds(SampleStep)),
    Map(Layout.StarTree -> 1, Layout.Dict -> 1))

  private val Sources = Seq(
    CorpusSource,
    Source("q_querygen", 0 until GenSampleLines, () => QueryGen.lines(GenSampleLines),
      Map(Layout.StarTree -> 19, Layout.Dict -> 41)),
    Source("q_querygen_graft", 0 until GenBSampleLines, () => QueryGenB.lines(GenBSampleLines),
      Map(Layout.StarTree -> 7, Layout.Dict -> 19)))

  /** The generated lines the gate rows replay, mode A then mode B: the
    * harness mines its star-trees from them. */
  def generatedGateLines: Seq[OnTimeCorpus.Line] =
    Sources.filterNot(_ eq CorpusSource).flatMap(_.lines())

  private def gateRow(spark: SparkSession, src: Source): DataFrame = {
    import spark.implicits._
    val outcomes = CorpusHarness.compare(spark, src.lines(), Layout.all)
    src.floors.foreach { case (layout, floor) =>
      val routed = outcomes(layout).count(_.route.routed)
      require(routed >= floor, s"${src.row}: ${layout.name} answered $routed of " +
        s"${src.ids.size} lines from its routed copy, below its floor of $floor")
    }
    Layout.all.flatMap(l => outcomes(l).map(o => (o.id, l.name, o.matched)))
      .toDF("line_id", "layout", "matched")
      .orderBy("line_id", "layout")
  }

  /** The DuckDB-valued aggregation slices' lines. */
  private def corpusDuckLines: Seq[OnTimeCorpus.Line] =
    CorpusHarness.aggOnly(OnTimeCorpus.corpus).take(DuckLines)
  def genDuckLines: Seq[OnTimeCorpus.Line] =
    CorpusHarness.aggOnly(QueryGen.lines(GenPoolSize)).take(GenDuckLines)
  def genBDuckLines: Seq[OnTimeCorpus.Line] =
    QueryGenB.duckAggLines(GenBDuckLines, GenBPoolSize)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Sources.map(src => src.row -> ((s: SparkSession, _: String) => gateRow(s, src))).toMap ++
    Map[String, (SparkSession, String) => DataFrame](
      "q_corpus_duck" -> ((s, _) => CorpusHarness.duckSlice(s, corpusDuckLines)),
      "q_querygen_duck" -> ((s, _) => CorpusHarness.duckSlice(s, genDuckLines)),
      // mode-B aggregation-only lines (MV slot twins, MINMAXRANGE,
      // DISTINCTCOUNT, exact percentiles → quantile_cont, arithmetic
      // transforms)
      "q_querygen_duck_b" -> ((s, _) => CorpusHarness.duckSlice(s, genBDuckLines)),
      "q_querygen_duck_sel" -> ((s, _) =>
        CorpusHarness.duckSelSlice(s, QueryGenB.duckSelLines(GenBSelLines))))

  /** The gate rows, one per line source: each emits one
    * (line_id, layout, matched) cell per line and layout. */
  val GateRows: Seq[String] = Sources.map(_.row)

  /** The rows that replay the reference's corpus lines: they read the
    * corpus file ([[graft.pql.OnTimeCorpus.CorpusPath]]) and fail with
    * its path where it is missing. Every other row of this module runs
    * on the generated grammars and needs no file. */
  val CorpusReplayRows: Set[String] = Set(CorpusSource.row, "q_corpus_duck")

  /** Static oracles. `q_corpus_duck`'s is built from the corpus lines
    * themselves, so it is present only where the corpus file exists;
    * every other oracle needs no file. */
  def oracles: Map[String, String] =
    Sources.map(src => src.row -> CorpusHarness.selfOracle(src.ids, Layout.all)).toMap ++
    Map(
      "q_querygen_duck" -> CorpusHarness.duckOracle(genDuckLines),
      "q_querygen_duck_b" -> CorpusHarness.duckOracle(genBDuckLines),
      "q_querygen_duck_sel" -> CorpusHarness.duckSelOracle(QueryGenB.duckSelLines(GenBSelLines))
    ) ++ (if (OnTimeCorpus.corpusPresent)
      Map("q_corpus_duck" -> CorpusHarness.duckOracle(corpusDuckLines))
    else Map.empty)
}
