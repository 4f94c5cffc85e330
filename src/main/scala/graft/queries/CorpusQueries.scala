package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pql.CorpusHarness

/** The golden-corpus gate (BASELINE.md B1): result-level execution of
  * the reference's 10,000-query integration corpus over synthesized
  * OnTime-schema data — see [[graft.pql.CorpusHarness]] for the
  * comparison semantics (`ClusterIntegrationTestUtils.java:506-806`).
  *
  * Two surfaces:
  *  - `q_corpus_sample`: every 40th corpus line (250 lines spanning
  *    selection / aggregation / group-by / MV shapes) executed
  *    PQL-vs-hsql; emits (line_id, matched). Self-oracle: the driver's
  *    DuckDB compare pins every sampled line to matched=TRUE, so one
  *    regression on any sampled line fails the hash.
  *  - `q_corpus_duck`: the first 40 aggregation-only lines; the PQL
  *    values hash-compare against the paired hsqls executed BY DUCKDB
  *    over a parquet dump of the same synthesized table ({OUT}
  *    placeholder, substituted by Verify) — a genuinely external
  *    engine answering the reference's own queries.
  *
  * The full 10,000-line sweep runs in `CorpusFullSpec`
  * (GRAFT_CORPUS_FULL=1 gated — ~20 min).
  */
object CorpusQueries {

  val SampleStep = 40
  val DuckLines = 40

  /** Generated-query gate sizes ([[graft.pql.QueryGen]], the port of
    * the reference's randomized QueryGenerator): 50 random lines
    * PQL-vs-hsql under the harness comparator, plus the first 25
    * aggregation-only lines of a 300-line generated set value-checked
    * by DuckDB. QueryGenSpec runs 500 further lines per round. */
  val GenSampleLines = 50
  val GenPoolSize = 300
  val GenDuckLines = 25

  /** Mode-B (graft-surface grammar, [[graft.pql.QueryGenB]]) gate
    * sizes: 50 lines through the harness comparator, the first 35
    * DuckDB-valuable aggregation-only lines of a 600-line pool, and
    * 40 deterministic DISTINCT selections — together with the mode-A
    * duck slice, 100 generated lines valued by an external engine. */
  val GenBSampleLines = 50
  val GenBPoolSize = 600
  val GenBDuckLines = 35
  val GenBSelLines = 40

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_sample" -> ((s, _) =>
      CorpusHarness.runLines(s, CorpusHarness.sampleIds(SampleStep))
        .select("line_id", "matched")
        .orderBy("line_id")),
    "q_corpus_duck" -> ((s, _) => CorpusHarness.duckSlice(s, DuckLines)),
    // the same 250-line sample answered from the HYBRID stitched view
    // (offline slice + full realtime stream, broker time boundary) —
    // the HybridClusterIntegrationTest dimension; the hsql twin still
    // reads the plain table, so a boundary leak or double-count flips
    // `matched` and fails the hash
    "q_corpus_hybrid" -> ((s, _) =>
      CorpusHarness.runLines(s, CorpusHarness.sampleIds(SampleStep), hybrid = true)
        .select("line_id", "matched")
        .orderBy("line_id")),
    // the same 250-line sample with the mined star-tree rollups
    // registered and the routing rule active (StarTreeClusterIntegration
    // shape): routable lines answer from pre-aggregated rollups, the
    // hsql twin still reads the plain table — any routing rewrite that
    // changes an answer flips `matched` and fails the hash
    "q_corpus_startree" -> ((s, _) =>
      CorpusHarness.runLines(s, CorpusHarness.sampleIds(SampleStep), starTree = true)
        .select("line_id", "matched")
        .orderBy("line_id")),
    // the same 250-line sample with the dictionary forward-index
    // layout registered over every SV string dimension and the
    // routing rule active: routable aggregates and ordered selections
    // answer from the encoded copy (int dict ids, decode at output),
    // the hsql twin still reads the plain table — any id-space
    // translation or decode defect flips `matched` and fails the hash
    "q_corpus_dict" -> ((s, _) =>
      CorpusHarness.runLines(s, CorpusHarness.sampleIds(SampleStep), dict = true)
        .select("line_id", "matched")
        .orderBy("line_id")),
    // randomized generated queries (QueryGenerator port): shapes the
    // fixed corpus never drew — regex predicates, fresh AND/OR
    // predicate chains over SV+MV columns, new agg/group combinations
    // — seeded, so the self-oracle below is a static contract
    "q_querygen_sample" -> ((s, _) =>
      graft.pql.QueryGen.runSample(s, GenSampleLines)),
    // generated aggregation-only lines, values answered independently
    // BY DUCKDB over the flat parquet dump
    "q_querygen_duck" -> ((s, _) =>
      graft.pql.QueryGen.duckSlice(s, GenDuckLines, GenPoolSize)),
    // the same generated sample with the mined star-tree rollups
    // registered and the routing rule active — generated aggregation
    // combinations exercise routing rewrites the fixed corpus can no
    // longer surprise; the hsql twin still reads the plain table
    "q_querygen_startree" -> ((s, _) =>
      graft.pql.QueryGen.runSample(s, GenSampleLines, starTree = true)),
    // the generated sample answered from the HYBRID stitched view
    // (offline slice + full realtime stream, broker time boundary) —
    // generated predicate shapes probe the boundary stitch; the hsql
    // twin still reads the plain table, so a leak or double-count
    // flips `matched`
    "q_querygen_hybrid" -> ((s, _) =>
      graft.pql.QueryGen.runSample(s, GenSampleLines, hybrid = true)),
    // mode-B generated queries (QueryGenB): graft's full PQL surface —
    // percentile family (exact histogram / rank-narrowing / disc),
    // MV aggregation twins, DISTINCTCOUNT/HLL, HAVING (incl. hidden
    // aggregations), transform expressions in agg args and group keys,
    // MV/VALUEIN group keys — each against an independently-written
    // Spark-SQL twin
    "q_querygen_graft" -> ((s, _) =>
      graft.pql.QueryGenB.runSample(s, GenBSampleLines)),
    // mode-B aggregation-only lines valued BY DUCKDB (MV slot twins,
    // MINMAXRANGE, DISTINCTCOUNT, exact percentiles → quantile_cont,
    // arithmetic transforms)
    "q_querygen_duck_b" -> ((s, _) =>
      graft.pql.QueryGenB.duckAggSlice(s, GenBDuckLines, GenBPoolSize)),
    // generated SELECTION shapes valued BY DUCKDB: DISTINCT + total
    // ORDER BY + LIMIT make the row set exact, so the driver's hash
    // compare is strict equality against DuckDB running the same
    // statement over the flat dump
    "q_querygen_duck_sel" -> ((s, _) =>
      graft.pql.QueryGenB.duckSelSlice(s, GenBSelLines)),
    // the mode-B sample through the star-tree-routed fact segment:
    // the routing rewrite must leave percentile/MV/HAVING shapes alone
    // and still answer its basic-agg subset bit-identically
    "q_querygen_graft_startree" -> ((s, _) =>
      graft.pql.QueryGenB.runSample(s, GenBSampleLines, starTree = true)),
    // the mode-B sample through the hybrid stitched view — graft-only
    // shapes across the broker time-boundary stitch
    "q_querygen_graft_hybrid" -> ((s, _) =>
      graft.pql.QueryGenB.runSample(s, GenBSampleLines, hybrid = true)),
    // generated samples through the dictionary layout: mode A's
    // REGEXP_LIKE predicates hit the per-row decode fallback; mode B's
    // percentile/MV/HAVING/transform shapes probe the routable /
    // non-routable split — both against the plain-table twin
    "q_querygen_dict" -> ((s, _) =>
      graft.pql.QueryGen.runSample(s, GenSampleLines, dict = true)),
    "q_querygen_graft_dict" -> ((s, _) =>
      graft.pql.QueryGenB.runSample(s, GenBSampleLines, dict = true))
  )

  /** The rows that replay the reference's corpus lines: they read the
    * corpus file ([[graft.pql.OnTimeCorpus.CorpusPath]]) and fail with
    * its path where it is missing. Every other row of this module runs
    * on the generated grammars and needs no file. */
  val CorpusReplayRows: Set[String] = Set(
    "q_corpus_sample", "q_corpus_duck", "q_corpus_hybrid", "q_corpus_startree", "q_corpus_dict")

  /** Static oracles. `q_corpus_duck`'s is built from the corpus lines
    * themselves, so it is present only where the corpus file exists;
    * every other oracle needs no file. */
  def oracles: Map[String, String] = Map(
    "q_corpus_sample" -> CorpusHarness.sampleOracle(SampleStep),
    "q_corpus_hybrid" -> CorpusHarness.sampleOracle(SampleStep),
    "q_corpus_startree" -> CorpusHarness.sampleOracle(SampleStep),
    "q_querygen_sample" -> graft.pql.QueryGen.sampleOracle(GenSampleLines),
    "q_querygen_duck" -> graft.pql.QueryGen.duckOracle(GenDuckLines, GenPoolSize),
    "q_querygen_startree" -> graft.pql.QueryGen.sampleOracle(GenSampleLines),
    "q_querygen_hybrid" -> graft.pql.QueryGen.sampleOracle(GenSampleLines),
    "q_querygen_graft" -> graft.pql.QueryGenB.sampleOracle(GenBSampleLines),
    "q_querygen_duck_b" -> graft.pql.QueryGenB.duckAggOracle(GenBDuckLines, GenBPoolSize),
    "q_querygen_duck_sel" -> graft.pql.QueryGenB.duckSelOracle(GenBSelLines),
    "q_querygen_graft_startree" -> graft.pql.QueryGenB.sampleOracle(GenBSampleLines),
    "q_querygen_graft_hybrid" -> graft.pql.QueryGenB.sampleOracle(GenBSampleLines),
    "q_corpus_dict" -> CorpusHarness.sampleOracle(SampleStep),
    "q_querygen_dict" -> graft.pql.QueryGen.sampleOracle(GenSampleLines),
    "q_querygen_graft_dict" -> graft.pql.QueryGenB.sampleOracle(GenBSampleLines)
  ) ++ (if (graft.pql.OnTimeCorpus.corpusPresent)
    Map("q_corpus_duck" -> CorpusHarness.duckSliceOracle(DuckLines))
  else Map.empty)
}
