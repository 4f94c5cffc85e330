package graft

import graft.pql.{CorpusHarness, OnTimeCorpus, Pql}
import graft.pql.CorpusHarness.Layout

/** Result-level golden-corpus execution, sampled (the always-on gate;
  * the full 10,000-line sweep lives in [[CorpusFullSpec]]). Every
  * sampled line's PQL must produce results the paired hsqls confirm
  * under the reference harness's own comparison semantics. */
class CorpusSpec extends SparkSpec {

  private def assertAllMatch(layout: Layout, ids: Seq[Int]): Unit = {
    val outcomes = CorpusHarness.compare(spark, CorpusHarness.corpusLines(ids), Seq(layout))(layout)
    val bad = outcomes.filterNot(_.matched)
    assert(bad.isEmpty, s"${bad.length}/${outcomes.length} mismatched; first 5:\n" +
      bad.take(5).map(o => s"  line ${o.id} [${o.mode}]: ${o.reason}").mkString("\n"))
  }

  test("corpus file parses into (pql, hsqls) lines with the expected multiplicities") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val lines = OnTimeCorpus.corpus
    assert(lines.length === 10000)
    assert(lines.head.hsqls.nonEmpty)
    // one hsql per aggregation, one for selections (reference layout)
    lines.grouped(100).map(_.head).foreach { l =>
      val q = Pql.parse(l.pql)
      val nAggs = q.select.count(Pql.isAggExpr)
      if (nAggs > 0) assert(l.hsqls.length === nAggs, s"line ${l.id}")
      else assert(l.hsqls.length === 1, s"line ${l.id}")
    }
  }

  test("literal pools cover nearly every column, typed") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val pools = OnTimeCorpus.minePools(OnTimeCorpus.corpus)
    assert(pools.size >= 75, s"only ${pools.size} columns pooled")
    assert(pools("DestState").forall(_.isInstanceOf[String]))
    assert(pools("ArrTime").forall(_.isInstanceOf[BigDecimal]))
  }

  test("synthesis is deterministic and predicates are selective") {
    val fx = CorpusHarness.fixture(spark)
    assert(fx.mv.count() === 8000)
    // same seed → identical frame (hash both builds), rebuilt from the
    // schema and pools the fixture itself synthesizes from
    import org.apache.spark.sql.functions._
    val again = OnTimeCorpus.synthesize(spark, OnTimeCorpus.Schema,
      OnTimeCorpus.fixturePools(), 8000)
    def fp(df: org.apache.spark.sql.DataFrame) = OnTimeCorpus.flatten(df)
      .agg(bit_xor(xxhash64(col("Carrier"), col("ArrTime"), col("DivTailNums__MV0"))))
      .head().getLong(0)
    assert(fp(fx.mv) === fp(again), "same seed must give identical data")
    // pool-driven values: corpus predicates actually select rows (the
    // literals are the corpus's, mined into the pools where it exists)
    assumeFile(OnTimeCorpus.CorpusPath)
    val sel = fx.flat.where("DestState IN ('VI', 'UT', 'VA') OR ArrTime < 806").count()
    assert(sel > 0 && sel < 8000, s"predicate should be selective, got $sel")
  }

  test("sampled corpus lines all match PQL-vs-hsql (every 100th line)") {
    assumeFile(OnTimeCorpus.CorpusPath)
    assertAllMatch(Layout.Plain, CorpusHarness.sampleIds(100))
  }

  test("hybrid stitched view is row-identical to the plain table (exactly-once)") {
    val fx = CorpusHarness.fixture(spark)
    val hv = fx.hybrid
    // overlap is real: the realtime side carries ALL rows, the offline
    // slice is non-empty — yet the stitch loses and duplicates nothing
    assert(hv.count() === fx.mv.count(), "row count through the boundary")
    val key = org.apache.spark.sql.functions.xxhash64(
      fx.mv.columns.map(c => org.apache.spark.sql.functions.col(c).cast("string")): _*)
    val a = fx.mv.select(key.as("h")).groupBy("h").count()
    val b = hv.select(key.as("h")).groupBy("h").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "hybrid view must reproduce the exact multiset of rows")
  }

  test("sampled corpus lines match from the HYBRID view (every 200th line)") {
    assumeFile(OnTimeCorpus.CorpusPath)
    assertAllMatch(Layout.Hybrid, CorpusHarness.sampleIds(200))
  }

  test("duck slice emits one rounded value per aggregation of the first 40 agg-only lines") {
    assumeFile(OnTimeCorpus.CorpusPath)
    val lines = CorpusHarness.aggOnly(OnTimeCorpus.corpus).take(5)
    val rows = CorpusHarness.duckSlice(spark, lines).collect()
    assert(rows.length >= 5)
    val oracle = CorpusHarness.duckOracle(lines)
    // the dump lives in a SIBLING of the verify out dir ("<out>_aux"):
    // anything inside outDir surfaces as a bogus no-oracle result row
    assert(oracle.contains("read_parquet('{OUT}_aux/corpus_flat_parquet/*.parquet')"))
    assert(oracle.count(_ == '{') === oracle.count(_ == '}'))
  }
}
