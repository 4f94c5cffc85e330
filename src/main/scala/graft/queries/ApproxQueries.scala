package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Approximate aggregation functions — the reference's HLL / quantile
  * sketch family re-expressed with Spark's native sketch aggregates:
  *
  *  - distinctCountHLL (`DistinctCountHLLAggregationFunction.java:34-35`,
  *    log2m=8 ⇒ rsd ≈ 6.5%) → `approx_count_distinct(col, 0.065)`;
  *  - percentileEst / percentileTDigest (q-digest in
  *    `customobject/QuantileDigest.java`, t-digest in
  *    `PercentileTDigestAggregationFunction.java:21,37`) →
  *    `approx_percentile` (Spark's KLL-class sketch; documented
  *    divergence: same accuracy contract, different sketch family);
  *  - fastHLL (pre-aggregated serialized HLL column merged at query
  *    time, `plan/maker/BrokerRequestPreProcessor.java:50-78`,
  *    `MetricFieldSpec` derived metric) → a materialized
  *    `hll_sketch_agg` sketch column unioned with `hll_union_agg` —
  *    the mergeable-sketch path: partial sketches build map-side per
  *    fine-grained group, and only fixed-size sketch bytes cross the
  *    shuffle, never raw values. At 100 TB this is the difference
  *    between shuffling every distinct key and shuffling ~4 KB per
  *    group.
  *
  * Oracle strategy: sketches are deterministic (same input ⇒ same
  * estimate) but engine-specific, so each query emits the EXACT value
  * (computable by both engines) plus booleans asserting the estimate
  * lands within the documented error bound — reproducible, and a
  * violated bound breaks the driver's hash match.
  */
object ApproxQueries {

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  /** distinctCountHLL vs exact: rsd 0.065 (reference log2m=8), bound
    * 3× the rsd.
    *
    * r12 (guide §2.3, shuffle fewer bytes): the exact and sketch
    * aggregations run as SEPARATE branches joined on the group key.
    * Combined in one `agg`, Spark's distinct-rewrite plans a first
    * aggregation keyed by (flag, partkey) and carries the
    * approx_count_distinct buffer — 52 longs ≈ 420 B — on EVERY
    * distinct (flag, partkey) row through the exchange (~83 MB at
    * sf0.1; at 100 TB the fixed-size sketch gets multiplied by the
    * distinct-key count, exactly what a sketch exists to avoid).
    * Split, the sketch branch shuffles one 420 B buffer per partition
    * per group and the exact branch shuffles narrow (flag, partkey)
    * pairs. Values are identical: HLL register state is
    * order/partitioning-independent, and countDistinct is exact either
    * way. */
  def qHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("dc_exact"))
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.065).as("dc_hll"))
    exact.join(approx, Seq("l_returnflag"))
      .select($"l_returnflag", $"dc_exact",
        (abs($"dc_hll" - $"dc_exact") <= $"dc_exact" * 0.2).as("hll_ok"))
      .orderBy($"l_returnflag")
  }

  /** GLOBAL distinctCountHLL through the PQL front-end — with the graft
    * rules on, [[graft.plans.HllRegisterRule]] routes it to the codegen
    * register plan ([[graft.functions.HllFastPlan]]): the estimate is
    * bit-identical to `approx_count_distinct` (pinned in HllFastSpec),
    * and the verified bound here is the same 3×-rsd envelope as
    * [[qHll]]. The plan assert keeps the route honest — a silent
    * fallback to the ImperativeAggregate would still pass the value
    * check. */
  def qHllFast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val est = graft.Graft.withIndexes(s)(graft.pql.Pql.toDataFrame(
      graft.pql.Pql.parse("SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem"),
      name => t(s, dir, name)))
    require(est.queryExecution.executedPlan.toString.contains("hll_register_estimate"),
      "global DISTINCTCOUNTHLL must route to the codegen register plan")
    t(s, dir, "lineitem")
      .agg(countDistinct($"l_partkey").as("dc_exact"))
      .crossJoin(est)
      .select($"dc_exact",
        (abs($"distinctcounthll_l_partkey" - $"dc_exact") <= $"dc_exact" * 0.2)
          .as("hll_ok"))
  }

  /** distinctCountHLLMV: HLL over multi-value (array) columns —
    * explode then sketch, the reference's MV aggregation semantics.
    * r12: exact/sketch branches split like [[qHll]] — combined, every
    * distinct (label, element) row carried the 420 B HLL buffer
    * through the exchange (the exploded element column is near-unique,
    * so that shuffle was ~the exploded data × 420 B). */
  def qHllMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val elems = t(s, dir, "embeddings")
      .select($"label", explode($"embedding").as("e"))
    val exact = elems.groupBy($"label")
      .agg(countDistinct($"e").as("dc_exact"))
    val approx = elems.groupBy($"label")
      .agg(approx_count_distinct($"e", 0.065).as("dc_hll"))
    exact.join(approx, Seq("label"))
      .select($"label", $"dc_exact",
        (abs($"dc_hll" - $"dc_exact") <= $"dc_exact" * 0.2).as("hll_ok"))
      .orderBy($"label")
  }

  /** percentileEst / percentileTDigest vs exact percentile: rank error
    * ≤ n/10000 at accuracy 10000 ⇒ value bound 2% relative.
    *
    * Two branches joined on the group key instead of one agg holding
    * both buffers: the sketch side shuffles only KB-scale KLL
    * partials, and the exact side is the distributed histogram
    * ([[graft.operators.Percentiles.exact]]) — with 3 groups, the
    * old combined agg funneled every value through 3 reducer tasks. */
  def qPercentileApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    // r12: exact side via GROUPED rank-narrowing selection — this is
    // exactly its sweet spot (3 groups × near-unique l_extendedprice;
    // the distinct-(key, value) histogram degenerates to the data
    // itself there: probed 8.4 s vs 38.5 s at 100M rows × 2 groups,
    // and 2.2 → 1.0 s on this row at sf0.1). Values are bit-identical
    // to Percentiles.exact (same rank arithmetic, same interpolation —
    // probed EXACT-BITPAR over all 3 groups); the histogram plan keeps
    // its own oracle row (q_percentile) and its good-regime users
    // (q_percentile_sketch/q_tdigest_compat at ~50 distinct values).
    val exact = graft.operators.Percentiles.rankSelectKeyed(
      li, Seq("l_returnflag"), "l_extendedprice",
      Seq(graft.operators.Percentiles.Spec(0.5, "_pe1", nearestRank = false),
        graft.operators.Percentiles.Spec(0.95, "_pe2", nearestRank = false)))
    val approx = li
      .groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").as("_pa"))
    exact.join(approx, Seq("l_returnflag"))
      .select($"l_returnflag",
        round($"_pe1", 3).as("p50_exact"),
        round($"_pe2", 3).as("p95_exact"),
        (abs(element_at($"_pa", 1) - $"_pe1") <= $"_pe1" * 0.02).as("p50_ok"),
        (abs(element_at($"_pa", 2) - $"_pe2") <= $"_pe2" * 0.02).as("p95_ok"))
      .orderBy($"l_returnflag")
  }

  private val sketchSeg = new SessionCache[String]

  /** fastHLL: the derived sketch column at fine granularity
    * (l_returnflag × l_suppkey — the "segment" analog) is an
    * INGEST-TIME artifact in the reference (MetricFieldSpec derived
    * HLL metric, built once when the segment is created), so it is
    * built once per (session, table) and persisted as a sketch
    * segment; the query answers the coarse rollup by UNIONING stored
    * sketches, never re-touching rows. `n_parts` (distinct suppkeys =
    * sketches merged) is exactly computable by both engines and pins
    * the merge fan-in. */
  def qFastHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lgConfigK = 8 matches the reference's log2m = 8 (~6.5% rsd,
    // DistinctCountHLLAggregationFunction.java:34-35) and keeps each
    // partial sketch at ~256 B instead of the 4 KB default
    val segPath = sketchSeg.getOrElseUpdate(s, s"fasthll|$dir") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_fasthll_" +
        TmpTag(dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_suppkey")
        .agg(hll_sketch_agg($"l_partkey", lit(8)).as("sk"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val sketches = s.read.parquet(segPath)
    val exact = t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("dc_exact"))
    sketches
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("dc_merged"))
      .join(exact, Seq("l_returnflag"))
      .select($"l_returnflag", $"n_parts", $"dc_exact",
        (abs($"dc_merged" - $"dc_exact") <= $"dc_exact" * 0.2).as("merge_ok"))
      .orderBy($"l_returnflag")
  }

  private val derivedIdx = new SessionCache[graft.plans.StarTree.Index]

  /** Automatic derived-HLL rewrite, end to end: the PQL text names
    * only the RAW column — `DISTINCTCOUNTHLL(l_partkey)` and
    * `FASTHLL(l_partkey)`, both compiled to `approx_count_distinct` at
    * rsd 0.065 — but the table carries an ingest-built sketch artifact
    * (a star-tree with an lgK-12 `hll_l_partkey` metric, more accurate
    * than asked), so [[graft.plans.StarTreeRoutingRule]] answers it
    * from the stored sketches, the `BrokerRequestPreProcessor.java:50-81`
    * swap — the executed plan is asserted fact-scan-free
    * for BOTH the grouped and the global shape. Output pins the exact distinct count plus
    * booleans asserting the routed estimates land inside the lgK-12
    * envelope (rsd ≈ 1.6%; bound 5%). */
  def qDerivedHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.StarTree
    val fact = t(s, dir, "lineitem")
    val idx = derivedIdx.getOrElseUpdate(s, s"derivedhll|$dir") {
      // persist the rollup: the registered artifact is a segment on
      // disk (built at ingest in the reference), not a live cube plan
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_derivedhll_" +
        TmpTag(dir)
      val built = StarTree.build(fact, Seq("l_returnflag", "l_linestatus"),
        Seq("l_partkey"), sketchLgK = 12)
      built.rollup.write.mode("overwrite").parquet(out)
      built.copy(rollup = s.read.parquet(out))
    }
    graft.Graft.withIndexes(s, trees = Seq(s"$dir/lineitem.parquet" -> idx)) {
      val resolve = (name: String) => Tables.load(s, dir, name)
      val grouped = graft.pql.Pql.toDataFrame(graft.pql.Pql.parse(
        "SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem GROUP BY l_returnflag TOP 10"),
        resolve)
      val global = graft.pql.Pql.toDataFrame(graft.pql.Pql.parse(
        "SELECT FASTHLL(l_partkey) FROM lineitem"), resolve)
      Seq("grouped" -> grouped, "global" -> global).foreach { case (which, df) =>
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("lineitem.parquet"),
          s"derived-HLL $which query must route off the fact scan:\n$plan")
      }
      // materialize the ROUTED estimates once: the routed results are
      // ≤10 rows (TOP 10 trim) scanning only the KB-scale rollup
      // segment, so collecting them here is a bounded driver read —
      // the reference's broker likewise holds the merged sketch
      // estimate, not the fact rows. Register state is identical: the
      // DataSketches union of the stored per-(flag, status) sketches
      // carries the same registers as a direct build at the same lgK,
      // so hll_ok is unchanged.
      import scala.jdk.CollectionConverters._
      val groupedLocal = s.createDataFrame(
        grouped.collect().toSeq.asJava, grouped.schema)
      val globalEst = global.head().getLong(0)
      val exact = fact.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("dc_exact"))
      // r12: the global 5%-bound check rides the output frame (one
      // action) instead of a per-call driver require() that ran its
      // own full countDistinct job before every timed execution; a
      // violated bound now flips global_ok and breaks the oracle hash
      // instead of throwing — same visibility, two fewer driver-side
      // jobs per execution.
      val globalExact = fact.agg(countDistinct($"l_partkey").as("_dcg"))
      groupedLocal
        .join(exact, Seq("l_returnflag"))
        .crossJoin(broadcast(globalExact))
        .select($"l_returnflag", $"dc_exact",
          (abs($"distinctcounthll_l_partkey" - $"dc_exact") <=
            $"dc_exact" * 0.05).as("hll_ok"),
          (abs(lit(globalEst) - $"_dcg") <= $"_dcg" * 0.05).as("global_ok"))
        .orderBy($"l_returnflag")
    }
  }

  private val cshllSeg = new SessionCache[String]

  /** FASTHLL over the reference's OWN serialized-HLL string format
    * ([[graft.functions.ClearspringHll]] — stream-lib byte layout +129
    * char offset, log2m 8): the fixture segment stores per-
    * (l_returnflag, l_suppkey) sketches exactly as a reference cluster
    * would persist a derived `_hll` column; the query then answers the
    * coarse rollup by DESERIALIZING + register-max MERGING the stored
    * strings (FastHLLAggregationFunction.aggregate semantics) — rows
    * are never re-read. DuckDB pins `n_parts`/`dc_exact` and the
    * estimate must land within the log2m=8 accuracy envelope. */
  def qClearspringHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{ClearspringHll, ClearspringHllCol}
    val segPath = cshllSeg.getOrElseUpdate(s, s"cshll|$dir") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_cshll_" +
        TmpTag(dir)
      val mkSketch = udf((vals: Seq[Long]) => {
        val h = ClearspringHll.empty()
        vals.foreach(v => h.offer(v.toString))
        ClearspringHll.serializeString(h)
      })
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_suppkey")
        .agg(collect_set($"l_partkey").as("vals"))
        .select($"l_returnflag", $"l_suppkey", mkSketch($"vals").as("hll"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val sketches = s.read.parquet(segPath)
    val exact = t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("dc_exact"))
    sketches
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts"),
        ClearspringHllCol.cardinality(
          ClearspringHllCol.unionAgg($"hll")).as("dc_merged"))
      .join(exact, Seq("l_returnflag"))
      .select($"l_returnflag", $"n_parts", $"dc_exact",
        (abs($"dc_merged" - $"dc_exact") <= $"dc_exact" * 0.2).as("merge_ok"))
      .orderBy($"l_returnflag")
  }

  private val tdigestSeg = new SessionCache[String]

  /** percentileTDigest over STORED reference-format digests — the
    * BYTES-column input path of `PercentileTDigestAggregationFunction
    * .java:92-95,152` (segments carry serialized
    * `com.tdunning.math.stats.MergingDigest` blobs, the server merges
    * them and the broker extracts the quantile). Per-(flag, suppkey)
    * digests of l_quantity are built and round-tripped through the
    * reference VERBOSE codec ([[graft.functions.TDunningDigest]]), then
    * the per-flag query UNIONS stored digests — only ≤1.7 KB centroid
    * lists move, rows are never re-read. Invariants: merged-estimate
    * rank within ±0.05 of the target (the reference's own
    * PercentileTDigestQueriesTest tolerance; checked against exact
    * percentiles at f∓0.05) and exact digest total weight. */
  def qTdigestCompat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TDigestCol
    val segPath = tdigestSeg.getOrElseUpdate(s, s"tdigest|$dir") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_tdigest_" +
        TmpTag(dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_suppkey")
        .agg(TDigestCol.buildAgg($"l_quantity".cast("double")).as("td"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val merged = s.read.parquet(segPath)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts"), sum($"n").as("n_rows"),
        TDigestCol.unionAgg($"td").as("td"))
      .select($"l_returnflag", $"n_parts", $"n_rows",
        TDigestCol.quantile($"td", 0.5).as("p50_est"),
        TDigestCol.quantile($"td", 0.95).as("p95_est"))
    val exact = graft.operators.Percentiles.exact(
      t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
      Seq(0.45 -> "_p45", 0.5 -> "_p50", 0.55 -> "_p55",
        0.9 -> "_p90", 0.95 -> "_p95", 1.0 -> "_p100"),
      countColumn = Some("cnt"))
    // null-safe join key (r12): a plain equi-join pushes
    // IsNotNull(l_returnflag) into ONE of the histogram's two internal
    // branches (the other sits behind its null-safe bucket join), so
    // their canonical plans diverge and AQE's exchange reuse cannot
    // dedup the distinct-pair shuffle — the lineitem scan + aggregate
    // ran TWICE per execution (plan-verified). <=> keeps both branches
    // identical and the reuse fires; results are unchanged
    // (l_returnflag is never null, and both sides derive from the
    // same rows).
    merged.join(exact, merged("l_returnflag") <=> exact("l_returnflag"))
      .drop(exact("l_returnflag"))
      .select($"l_returnflag", $"n_parts",
        round($"_p50", 4).as("p50_exact"),
        round($"_p95", 4).as("p95_exact"),
        ($"n_rows" === $"cnt").as("count_ok"),
        ($"p50_est" >= $"_p45" && $"p50_est" <= $"_p55").as("p50_ok"),
        ($"p95_est" >= $"_p90" && $"p95_est" <= $"_p100").as("p95_ok"))
      .orderBy($"l_returnflag")
  }

  private val qsketchSeg = new SessionCache[String]

  /** Mergeable QUANTILE sketch column ([[graft.functions.QuantileSketch]])
    * — the percentile analog of fastHLL, completing the reference's
    * mergeable-sketch story (`PercentileEstAggregationFunction` merges
    * serialized QuantileDigests server→broker; the ingest/star-tree
    * `ValueAggregatorFactory` includes percentile-est metrics): GK
    * sketches of l_quantity built once per (l_returnflag, l_suppkey)
    * slice and stored with the segment; the coarse per-flag query
    * UNIONS stored sketches — only KB-scale sketch bytes move, rows
    * are never re-read. Invariants: the merged estimate must land
    * between the exact percentiles at f∓0.05 (GK rank error ≤ eps·n
    * with eps 0.01, margin 5×), and the sketch count must equal the
    * true row count (GK counts are exact). */
  def qPercentileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.QuantileSketch
    val segPath = qsketchSeg.getOrElseUpdate(s, s"qsketch|$dir") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_qsketch_" +
        TmpTag(dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_suppkey")
        .agg(QuantileSketch.sketchAgg($"l_quantity".cast("double"), 0.01).as("qs"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val merged = s.read.parquet(segPath)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts"), sum($"n").as("n_rows"),
        QuantileSketch.unionAgg($"qs").as("sk"))
      .select($"l_returnflag", $"n_parts", $"n_rows",
        QuantileSketch.estimate($"sk", 0.5).as("p50_est"),
        QuantileSketch.estimate($"sk", 0.95).as("p95_est"))
    // exact side via the distributed histogram (l_quantity has ~50
    // distinct values — the (flag, value) histogram is ~150 pairs,
    // vs full-distribution buffers through 3 reducers)
    val exact = graft.operators.Percentiles.exact(
      t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
      Seq(0.45 -> "_p45", 0.5 -> "_p50", 0.55 -> "_p55",
        0.9 -> "_p90", 0.95 -> "_p95", 1.0 -> "_p100"),
      countColumn = Some("cnt"))
    // null-safe join key — same exchange-reuse rationale as
    // qTdigestCompat above (plan-verified double scan otherwise)
    merged.join(exact, merged("l_returnflag") <=> exact("l_returnflag"))
      .drop(exact("l_returnflag"))
      .select($"l_returnflag", $"n_parts",
        round($"_p50", 4).as("p50_exact"),
        round($"_p95", 4).as("p95_exact"),
        ($"n_rows" === $"cnt").as("count_ok"),
        ($"p50_est" >= $"_p45" && $"p50_est" <= $"_p55").as("p50_ok"),
        ($"p95_est" >= $"_p90" && $"p95_est" <= $"_p100").as("p95_ok"))
      .orderBy($"l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll" -> qHll,
    "q_hll_fast" -> qHllFast,
    "q_hll_mv" -> qHllMv,
    "q_percentile_approx" -> qPercentileApprox,
    "q_fasthll" -> qFastHll,
    "q_derived_hll" -> qDerivedHll,
    "q_clearspring_hll" -> qClearspringHll,
    "q_tdigest_compat" -> qTdigestCompat,
    "q_percentile_sketch" -> qPercentileSketch)

  val oracles: Map[String, String] = Map(
    "q_hll" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS dc_exact, TRUE AS hll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_hll_fast" ->
      """SELECT count(DISTINCT l_partkey) AS dc_exact, TRUE AS hll_ok
        |FROM lineitem""".stripMargin,
    "q_hll_mv" ->
      """SELECT label, count(DISTINCT e) AS dc_exact, TRUE AS hll_ok
        |FROM (SELECT label, unnest(embedding) AS e FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin,
    "q_percentile_approx" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 3) AS p50_exact,
        |  round(quantile_cont(l_extendedprice, 0.95), 3) AS p95_exact,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_fasthll" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_parts,
        |  count(DISTINCT l_partkey) AS dc_exact, TRUE AS merge_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_derived_hll" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS dc_exact,
        |  TRUE AS hll_ok, TRUE AS global_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_clearspring_hll" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_parts,
        |  count(DISTINCT l_partkey) AS dc_exact, TRUE AS merge_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_tdigest_compat" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_parts,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(l_quantity, 0.95), 4) AS p95_exact,
        |  TRUE AS count_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile_sketch" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_parts,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(l_quantity, 0.95), 4) AS p95_exact,
        |  TRUE AS count_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
