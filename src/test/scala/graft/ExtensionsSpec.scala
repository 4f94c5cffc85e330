package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.plans.{StarTree, StarTreeRegistry}
import graft.sources.Tables

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  override val sfDir = "/root/testdata/sf0.001"
  private val factPath = s"$sfDir/lineitem.parquet"

  test("SQL functions registered by Graft.enable work from spark.sql") {
    Graft.enable(spark)
    val r = spark.sql(
      """SELECT simhash64('hello world') AS sh,
        |  round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cos,
        |  l2_distance(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS l2,
        |  lang_id('the cat sat on the mat and it is happy') AS lang,
        |  minhash_sig('a b c d e', 16, 2) AS sig""".stripMargin)
      .head()
    assert(r.getDouble(1) === 1.0)
    assert(r.getDouble(2) === 5.0)
    assert(r.getString(3) === "en")
    assert(r.getSeq[Long](4).length === 16)
    // static params must be literals
    intercept[Exception](
      spark.sql("SELECT minhash_sig('x', l_linenumber, 2) FROM parquet.`" +
        factPath + "`").collect())
  }

  test("round-5 SQL functions: shingles, jaccard, quantile sketch family") {
    Graft.enable(spark)
    val r = spark.sql(
      """SELECT ngram_shingles('a b c', 2) AS sh,
        |  ngram_jaccard('a b c d', 'a b c e', 2) AS j,
        |  sorted_jaccard(array('a b', 'b c'), array('a b', 'b c')) AS sj""".stripMargin)
      .head()
    assert(r.getSeq[String](0).toSet === Set("a b", "b c"))
    assert(r.getDouble(1) === 0.5) // {a b, b c, c d} vs {a b, b c, c e}
    assert(r.getDouble(2) === 1.0)
    val q = spark.sql(
      """SELECT quantile_sketch_estimate(
        |  quantile_sketch_union_agg(sk), 0.5) AS p50 FROM (
        |    SELECT g, quantile_sketch_agg(CAST(v AS DOUBLE), 0.01) AS sk
        |    FROM VALUES (1, 1.0), (1, 2.0), (2, 3.0), (2, 4.0) AS t(g, v)
        |    GROUP BY g)""".stripMargin)
      .head().getDouble(0)
    assert(q >= 1.0 && q <= 4.0, s"p50=$q")
  }

  test("round-6 SQL functions: media metadata kernels + json_get_long") {
    Graft.enable(spark)
    import graft.operators.Multimodal
    val fixtures = Seq((Multimodal.makePng(12, 7, 1), Multimodal.makeWav(8000, 4000, 2),
      Multimodal.makeMp4(320, 240, 5000L), """{"a": 42, "b": "x"}"""))
      .toDF("png", "wav", "mp4", "js")
    fixtures.createOrReplaceTempView("media_fixture")
    val r = spark.sql(
      """SELECT image_meta(png).width AS iw, image_meta(png).height AS ih,
        |  audio_meta(wav).sample_rate AS ar, audio_meta(wav).duration_ms AS ad,
        |  video_meta(mp4).width AS vw, video_meta(mp4).duration_ms AS vd,
        |  json_get_long(js, 'a') AS ja
        |FROM media_fixture""".stripMargin).head()
    assert((r.getInt(0), r.getInt(1)) === ((12, 7)))
    assert((r.getInt(2), r.getLong(3)) === ((8000, 500L)))
    assert((r.getInt(4), r.getLong(5)) === ((320, 5000L)))
    assert(r.getLong(6) === 42L)
  }

  test("round-7 SQL functions: fused lang_quality + md5_normalized") {
    Graft.enable(spark)
    val r = spark.sql(
      """SELECT lang_quality('the cat sat on the mat and it is happy') AS lq,
        |  lang_quality('the cat sat on the mat and it is happy').lang AS lang,
        |  md5_normalized('  The   CAT  ') AS fp,
        |  unhex(md5(regexp_replace(lower(trim('  The   CAT  ')), '\\s+', ' '))) AS ref
        |""".stripMargin).head()
    assert(r.getString(1) === "en")
    val lq = r.getStruct(0)
    assert(lq.getDouble(1) >= 0.0 && lq.getDouble(1) <= 1.0)
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
  }

  test("packed-vector SQL functions: pack/unpack round trip + kernel parity") {
    Graft.enable(spark)
    val r = spark.sql(
      """SELECT unpack_floats(pack_floats(array(1.5F, -2.25F, 0.125F))) AS rt,
        |  cosine_sim_packed(pack_floats(array(1.0F, 2.0F, 3.0F)),
        |                    pack_floats(array(3.0F, 2.0F, 1.0F))) AS cp,
        |  cosine_sim(array(1.0F, 2.0F, 3.0F), array(3.0F, 2.0F, 1.0F)) AS ca,
        |  dot_product_packed(pack_floats(array(1.0F, 2.0F)),
        |                     pack_floats(array(3.0F, 4.0F))) AS dp,
        |  l2_distance_packed(pack_floats(array(0.0F, 3.0F)),
        |                     pack_floats(array(4.0F, 0.0F))) AS lp
        |""".stripMargin).head()
    assert(r.getSeq[Float](0) === Seq(1.5f, -2.25f, 0.125f))
    assert(r.getDouble(1) === r.getDouble(2), "packed cosine must equal array cosine")
    assert(r.getDouble(3) === 11.0)
    assert(r.getDouble(4) === 5.0)
  }

  test("star-tree routing rule answers covered aggregates from the rollup, not the fact scan") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    // materialize the rollup like a real deployment (StarTree scaladoc)
    val rollupDir = Files.createTempDirectory("graft-rollup").toFile.getAbsolutePath
    StarTree.build(fact, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(rollupDir)
    val idx = StarTree.Index(Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"),
      spark.read.parquet(rollupDir))

    def query() = fact.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c"), max($"l_quantity").as("m"))

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten

    StarTreeRegistry.clear()
    val direct = query().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(scanPaths(query()).exists(_.contains("lineitem.parquet")),
      "sanity: unrouted scans fact")

    try {
      StarTreeRegistry.register(factPath, idx)
      val routed = query()
      val paths = scanPaths(routed)
      assert(!paths.exists(_.contains("lineitem.parquet")), s"fact still scanned: $paths")
      assert(paths.exists(_.contains("graft-rollup")), s"rollup not in plan: $paths")
      assert(routed.orderBy("l_returnflag").collect().map(_.toSeq).toSeq === direct)

      // not covered: grouping outside the tree dims → fact scan stays
      val uncovered = fact.groupBy($"l_suppkey").agg(sum($"l_quantity"))
      assert(scanPaths(uncovered).exists(_.contains("lineitem.parquet")))

      // avg(metric) derives from the tree's (sum, cnt) pair — routed,
      // and equal to the fact-table answer
      def avgQ() = fact.groupBy($"l_returnflag")
        .agg(avg($"l_quantity").as("a"), count(lit(1)).as("c"))
      val avgDirect = {
        StarTreeRegistry.clear()
        val r = avgQ().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
        StarTreeRegistry.register(factPath, idx)
        r
      }
      assert(!scanPaths(avgQ()).exists(_.contains("lineitem.parquet")),
        "avg must route to the rollup via sum/cnt derivation")
      assert(avgQ().orderBy("l_returnflag").collect().map(_.toSeq).toSeq === avgDirect)

      // still not mergeable: percentile → fact scan stays
      val pctQ = fact.groupBy($"l_returnflag").agg(percentile($"l_quantity", lit(0.5)))
      assert(scanPaths(pctQ).exists(_.contains("lineitem.parquet")))
    } finally StarTreeRegistry.clear()
  }

  test("dimension-filtered aggregates route to the slice and re-aggregate") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    val rollupDir = Files.createTempDirectory("graft-rollup-f").toFile.getAbsolutePath
    StarTree.build(fact, Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        Seq("l_quantity", "l_partkey"), sketchLgK = 8)
      .rollup.write.mode("overwrite").parquet(rollupDir)
    val idx = StarTree.Index(Seq("l_returnflag", "l_linestatus", "l_linenumber"),
      Seq("l_quantity", "l_partkey"), spark.read.parquet(rollupDir), sketchLgK = 8)

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansFact(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten.exists(_.contains("lineitem.parquet"))

    // the reference's star-tree query shape: WHERE on dims + GROUP BY
    def q() = fact
      .filter($"l_linestatus" === "F" && $"l_linenumber" <= 4)
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c"),
        count($"l_quantity").as("cm"), min($"l_quantity").as("mn"),
        max($"l_quantity").as("mx"), avg($"l_quantity").as("a"),
        hll_sketch_estimate(hll_sketch_agg($"l_partkey", lit(8))).as("dc"))

    StarTreeRegistry.clear()
    val direct = q().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    try {
      StarTreeRegistry.register(factPath, idx)
      assert(!scansFact(q()), "dim-filtered aggregate must route to the rollup")
      val routed = q().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
      // exact aggregates merge exactly; the HLL estimate (last column)
      // may differ WITHIN THE SKETCH'S ERROR CONTRACT — the union of
      // per-combo sketches promotes sparse→dense at a different point
      // than one directly-built sketch (the reference's tree-HLL has
      // the same property; sketches are approximate by contract)
      assert(routed.map(_.dropRight(1)) === direct.map(_.dropRight(1)),
        "re-aggregated exact aggregates must equal the fact-table answer")
      routed.zip(direct).foreach { case (r, d) =>
        val (rdc, ddc) = (r.last.toString.toDouble, d.last.toString.toDouble)
        assert(math.abs(rdc - ddc) <= 0.2 * ddc,
          s"HLL estimate outside the error contract: routed $rdc vs direct $ddc")
      }
      // filter touching a NON-dim column → fact scan stays
      val nonDim = fact.filter($"l_suppkey" > 0)
        .groupBy($"l_returnflag").agg(sum($"l_quantity"))
      assert(scansFact(nonDim), "non-dim filter must fall back")
      // non-deterministic predicate → fall back (an OR keeps the
      // rand conjunct from being split off or simplified away)
      val nonDet = fact.filter(rand(7) <= 0.5 || $"l_linestatus" === "F")
        .groupBy($"l_returnflag").agg(sum($"l_quantity"))
      assert(scansFact(nonDet), "non-deterministic filter must fall back")
    } finally StarTreeRegistry.clear()
  }

  test("sketch metrics route when lgK matches the tree, fall back otherwise") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    val rollupDir = Files.createTempDirectory("graft-rollup-hll").toFile.getAbsolutePath
    StarTree.build(fact, Seq("l_returnflag"), Seq("l_partkey"), sketchLgK = 8)
      .rollup.write.mode("overwrite").parquet(rollupDir)
    val idx = StarTree.Index(Seq("l_returnflag"), Seq("l_partkey"),
      spark.read.parquet(rollupDir), sketchLgK = 8)

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansFact(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten.exists(_.contains("lineitem.parquet"))
    def q(lgk: Int) = fact.groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_sketch_agg($"l_partkey", lit(lgk))).as("dc"))

    StarTreeRegistry.clear()
    val direct = q(8).orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    // PQL's DISTINCTCOUNTHLL, built before the tree is registered: the
    // route is decided when the frame is optimized, not when it is built
    val pql = graft.pql.Pql.toDataFrame(graft.pql.Pql.parse(
      "SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem GROUP BY l_returnflag TOP 10"),
      Tables.load(spark, sfDir, _))
    fact.createOrReplaceTempView("lineitem_hll")
    def sqlText(rsd: String) = spark.sql("SELECT l_returnflag, approx_count_distinct(l_partkey" +
      s"$rsd) AS dc FROM lineitem_hll GROUP BY l_returnflag")
    try {
      StarTreeRegistry.register(factPath, idx)
      assert(!scansFact(q(8)), "matching-lgK sketch estimate must route to the tree")
      assert(q(8).orderBy("l_returnflag").collect().map(_.toSeq).toSeq === direct,
        "stored-sketch estimate must equal the query-time sketch estimate")
      // different lgK → different registers → must NOT route
      assert(scansFact(q(12)), "mismatched lgK must fall back to the fact scan")
      // HLL++ (approx_count_distinct) routes only when the stored
      // sketch is as accurate as asked: 1.04 / sqrt(2^8) = 0.065, so
      // the default rsd 0.05 keeps the fact scan
      assert(scansFact(fact.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("dc"))))
      assert(!scansFact(pql), "PQL DISTINCTCOUNTHLL must route to the lgK-8 tree")
      assert(pql.collect().map(r => Seq[Any](r.get(0), r.get(1))).toSet === direct.toSet)
      assert(!scansFact(sqlText(", 0.065")), "rsd 0.065 in SQL text must route")
      assert(scansFact(sqlText("")), "the default rsd must keep the fact scan")
    } finally StarTreeRegistry.clear()
    // with no tree, a global call takes the register plan
    val global = fact.agg(approx_count_distinct($"l_partkey", 0.065))
    assert(global.queryExecution.executedPlan.toString.contains("hll_register_estimate"))
  }

  test("routing preserves result dataType and nullability (decimal sums, counts)") {
    Graft.enable(spark)
    val tmp = Files.createTempDirectory("graft-decfact").toFile.getAbsolutePath
    val decFactPath = s"$tmp/fact.parquet"
    spark.range(100).select(
      (col("id") % 3).cast("string").as("d1"),
      (col("id") % 2).cast("string").as("d2"),
      col("id").cast("decimal(12,2)").as("m"))
      .write.mode("overwrite").parquet(decFactPath)
    val fact = spark.read.parquet(decFactPath)
    val rollupDir = s"$tmp/rollup"
    StarTree.build(fact, Seq("d1", "d2"), Seq("m"))
      .rollup.write.mode("overwrite").parquet(rollupDir)
    val idx = StarTree.Index(Seq("d1", "d2"), Seq("m"), spark.read.parquet(rollupDir))

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansFact(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten.exists(_.contains("fact.parquet"))

    // filtered path: Sum over a decimal re-widens (p+10 → p+20) unless
    // cast back; Count→Sum flips nullability unless coalesced — the
    // routed schema must be IDENTICAL to the direct one or downstream
    // operators resolved at analysis time see a changed attribute
    def q() = fact.filter($"d2" === "1").groupBy($"d1")
      .agg(sum($"m").as("s"), count(lit(1)).as("c"), count($"m").as("cm"))
    def qUnfiltered() = fact.groupBy($"d1")
      .agg(sum($"m").as("s"), count(lit(1)).as("c"))
    StarTreeRegistry.clear()
    val direct = q().orderBy("d1").collect().map(_.toSeq).toSeq
    val directSchema = q().schema
    val directU = qUnfiltered().orderBy("d1").collect().map(_.toSeq).toSeq
    val directUSchema = qUnfiltered().schema
    try {
      StarTreeRegistry.register(decFactPath, idx)
      assert(!scansFact(q()), "decimal filtered aggregate must route")
      assert(q().schema === directSchema,
        s"routed schema ${q().schema} must equal direct $directSchema")
      assert(q().orderBy("d1").collect().map(_.toSeq).toSeq === direct)
      assert(!scansFact(qUnfiltered()), "decimal unfiltered aggregate must route")
      assert(qUnfiltered().schema === directUSchema)
      assert(qUnfiltered().orderBy("d1").collect().map(_.toSeq).toSeq === directU)
    } finally StarTreeRegistry.clear()
  }

  test("most-specific registered prefix wins when several match") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    val tmp = Files.createTempDirectory("graft-multi").toFile.getAbsolutePath
    // correct rollup for the exact path; a WRONG one (built from a
    // filtered fact, so its sums differ) for the parent directory —
    // if lookup picked the parent entry the values would be wrong
    StarTree.build(fact, Seq("l_returnflag"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(s"$tmp/right")
    StarTree.build(fact.filter($"l_linenumber" === 1), Seq("l_returnflag"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(s"$tmp/wrong")
    val right = StarTree.Index(Seq("l_returnflag"), Seq("l_quantity"),
      spark.read.parquet(s"$tmp/right"))
    val wrong = StarTree.Index(Seq("l_returnflag"), Seq("l_quantity"),
      spark.read.parquet(s"$tmp/wrong"))

    def q() = fact.groupBy($"l_returnflag").agg(sum($"l_quantity").as("s"))
    StarTreeRegistry.clear()
    val direct = q().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    try {
      StarTreeRegistry.register(sfDir, wrong)
      StarTreeRegistry.register(factPath, right)
      assert(StarTreeRegistry.lookup(factPath).exists(_.pathPrefix == factPath),
        "lookup must pick the longest matching prefix")
      assert(q().orderBy("l_returnflag").collect().map(_.toSeq).toSeq === direct,
        "query must be answered from the exact-path index, not the parent's")
    } finally StarTreeRegistry.clear()
  }

  test("multiple star-trees per table: smallest covering index wins") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    val tmp = Files.createTempDirectory("graft-multi-st").toFile.getAbsolutePath
    StarTree.build(fact, Seq("l_returnflag"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(s"$tmp/narrow")
    StarTree.build(fact, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(s"$tmp/wide")
    val narrow = StarTree.Index(Seq("l_returnflag"), Seq("l_quantity"),
      spark.read.parquet(s"$tmp/narrow"))
    val wide = StarTree.Index(Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"),
      spark.read.parquet(s"$tmp/wide"))

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
    def byFlag() = fact.groupBy($"l_returnflag").agg(sum($"l_quantity").as("s"))
    def byBoth() = fact.groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("s"))

    StarTreeRegistry.clear()
    val flagDirect = byFlag().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val bothDirect = byBoth().orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq
    try {
      StarTreeRegistry.register(factPath, wide)
      StarTreeRegistry.register(factPath, narrow)
      // 1-dim group-by: BOTH cover, the narrower (more pre-aggregated)
      // tree must be chosen
      val p1 = scanPaths(byFlag())
      assert(p1.exists(_.contains("/narrow")), s"narrow tree not chosen: $p1")
      assert(!p1.exists(_.contains("/wide")), s"wide tree used unnecessarily: $p1")
      assert(byFlag().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
        === flagDirect)
      // 2-dim group-by: only the wide tree covers
      val p2 = scanPaths(byBoth())
      assert(p2.exists(_.contains("/wide")), s"wide tree not chosen: $p2")
      assert(byBoth().orderBy("l_returnflag", "l_linestatus")
        .collect().map(_.toSeq).toSeq === bothDirect)
      // re-registering the same dimension set replaces, not duplicates
      StarTreeRegistry.register(factPath, narrow)
      assert(StarTreeRegistry.lookupAll(factPath).size === 2)
    } finally StarTreeRegistry.clear()
  }

  test("registry matches only at path-segment boundaries — no substring cross-routing") {
    Graft.enable(spark)
    val fact = Tables.load(spark, sfDir, "lineitem")
    val rollupDir = Files.createTempDirectory("graft-rollup2").toFile.getAbsolutePath
    StarTree.build(fact, Seq("l_returnflag"), Seq("l_quantity"))
      .rollup.write.mode("overwrite").parquet(rollupDir)
    val idx = StarTree.Index(Seq("l_returnflag"), Seq("l_quantity"),
      spark.read.parquet(rollupDir))

    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansFact() = fact.groupBy($"l_returnflag").agg(sum($"l_quantity"))
      .queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten.exists(_.contains("lineitem.parquet"))

    StarTreeRegistry.clear()
    try {
      // a registered PREFIX of the table name (the old substring bug:
      // /…/lineitem would capture /…/lineitem.parquet) must NOT route
      StarTreeRegistry.register(factPath.stripSuffix(".parquet"), idx)
      assert(scansFact(), "index for /…/lineitem must not capture /…/lineitem.parquet")
      // an index for a sibling table must not route either
      StarTreeRegistry.clear()
      StarTreeRegistry.register(s"$sfDir/orders.parquet", idx)
      assert(scansFact(), "index for a sibling table must not capture the fact scan")
      // the exact path (no scheme) still routes — scan root is file:/…
      StarTreeRegistry.clear()
      StarTreeRegistry.register(factPath, idx)
      assert(!scansFact(), "exact-path registration must still route")
      // …and an index rooted at a parent directory routes too
      // (segment-boundary prefix)
      StarTreeRegistry.clear()
      StarTreeRegistry.register(sfDir, idx)
      assert(!scansFact(), "segment-boundary parent prefix must route")
    } finally StarTreeRegistry.clear()
  }
}
