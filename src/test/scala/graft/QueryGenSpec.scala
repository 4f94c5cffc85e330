package graft

import graft.pql.{CorpusHarness, OnTimeCorpus, Pql, QueryGen, QueryGenB}
import graft.pql.CorpusHarness.Layout

/** The randomized-query-generator gate (VERDICT r10 item 2): 500
  * generated PQL/SQL pairs per round through the corpus harness's
  * comparator — combinations the fixed 10K corpus cannot produce
  * anymore (its literal pools were mined into the fixture). A
  * mismatch here is a front-end compilation bug by construction: both
  * sides run over identical data through independent parse paths. */
class QueryGenSpec extends SparkSpec {

  /** The unmatched plain-layout outcomes of `lines`. */
  private def unmatched(lines: Seq[OnTimeCorpus.Line]): Seq[CorpusHarness.Outcome] =
    CorpusHarness.compare(spark, lines, Seq(Layout.Plain))(Layout.Plain).filterNot(_.matched)

  test("generation is deterministic: same (n, seed) → identical lines") {
    val a = QueryGen.lines(40, seed = 7L)
    val b = QueryGen.lines(40, seed = 7L)
    assert(a == b)
    val c = QueryGen.lines(40, seed = 8L)
    assert(a != c, "different seeds must generate different query sets")
    // a shorter set is a prefix of a longer one at the same seed
    assert(QueryGen.lines(40) == QueryGen.lines(50).take(40))
  }

  /** FIXTURES.md §1's tables, row by row: (name, Pinot type, MV,
    * Spark type cell), in the document's order. */
  private def fixturesSchema(): Vector[(String, String, Boolean, String)] = {
    val src = scala.io.Source.fromFile("FIXTURES.md", "UTF-8")
    val doc = try src.getLines().toVector finally src.close()
    doc.dropWhile(!_.startsWith("## 1.")).drop(1).takeWhile(!_.startsWith("## "))
      .filter(l => l.startsWith("| ") && !l.startsWith("| Column"))
      .flatMap { row =>
        val cells = row.split('|').map(_.replace("**", "").trim)
        val pinot = cells(2).split(',').map(_.trim)
        cells(1).split(',').map(_.trim).map(n => (n, pinot.head, pinot.contains("MV"), cells(3)))
      }
  }

  test("schema read matches the Spark-side fixture schema (names, MV split)") {
    val cols = OnTimeCorpus.Columns
    val fx = CorpusHarness.fixture(spark)
    val sparkFields = fx.mv.schema.fields
    assert(cols.map(_.name).toSet === sparkFields.map(_.name).toSet)
    val mvSpark = sparkFields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
    }.toSet
    assert(cols.filter(_.multiValue).map(_.name).toSet === mvSpark)
    // the declaration is the schema FIXTURES.md §1 writes out: every
    // column with its Pinot type, MV flag and Spark type, in order
    val doc = fixturesSchema()
    assert(doc.length === 79, s"FIXTURES.md §1 lists ${doc.length} columns")
    assert(cols.map(c => (c.name, c.dataType, c.multiValue)) === doc.map(d => (d._1, d._2, d._3)))
    def render(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.ArrayType(el, _) => s"ArrayType($el)"
      case other => other.toString
    }
    OnTimeCorpus.Schema.fields.zip(doc).foreach { case (f, (n, _, _, sparkCell)) =>
      assert(sparkCell.startsWith(render(f.dataType)), s"$n: ${f.dataType} vs FIXTURES.md $sparkCell")
    }
  }

  test("the in-code schema equals the reference's .schema file (names, types, MV split)") {
    assumeFile(OnTimeCorpus.SchemaPath)
    // order aside: the file's field-spec blocks group differently
    def typed(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType).toSet
    assert(typed(OnTimeCorpus.Schema) ===
      typed(graft.pql.PinotSchema.load(spark, OnTimeCorpus.SchemaPath)))
  }

  test("500 generated lines: every PQL parses and matches its SQL twin") {
    val lines = QueryGen.lines(500, seed = QueryGen.DefaultSeed)
    // shape-coverage sanity: the generator must actually exercise the
    // grammar regions it exists for
    val parsed = lines.map(l => Pql.parse(l.pql))
    assert(parsed.exists(_.groupBy.nonEmpty), "no group-by generated")
    assert(parsed.exists(q => q.groupBy.isEmpty && q.select.forall(Pql.isAggExpr)),
      "no global aggregation generated")
    assert(parsed.exists(q => !q.select.exists(Pql.isAggExpr)),
      "no selection generated")
    assert(lines.exists(_.pql.contains("REGEXP_LIKE")), "no regex predicate generated")
    assert(lines.exists(_.pql.contains("NOT IN")), "no NOT IN generated")
    assert(lines.exists(_.hsqls.exists(_.contains("__MV"))),
      "no multi-value predicate or projection generated")
    // literal classes the seeded pools carry beyond plain codes and
    // halves: the '' escape, a regex pattern over a space or comma, an
    // equality on a value with a regex metacharacter (the regex
    // branch's fallback), and a float/double column against a literal
    // that is not dyadic
    assert(lines.exists(_.pql.contains("''")), "no quoted literal with an escaped apostrophe")
    assert(lines.exists(_.pql.matches(""".*REGEXP_LIKE\(\w+, '[^']*[ ,][^']*'\).*""")),
      "no regex pattern over a value with a space or comma")
    assert(lines.exists(_.pql.matches(""".*\w+ = '[^']*[.+*?()\[\]{}|^$][^']*'.*""")),
      "no equality on a value with a regex metacharacter")
    val floatCols = OnTimeCorpus.Columns
      .filter(c => c.dataType == "FLOAT" || c.dataType == "DOUBLE").map(_.name).toSet
    val floatCmp = """(\w+) (?:=|<>|<=|>=|<|>|BETWEEN) (-?\d+\.\d+)""".r
    assert(lines.exists(l => floatCmp.findAllMatchIn(l.pql).exists(m =>
      floatCols(m.group(1)) && !(BigDecimal(m.group(2)) * 2).isWhole)),
      "no float/double column compared with a non-dyadic literal")

    val failed = unmatched(lines)
    assert(failed.isEmpty,
      s"${failed.size}/500 generated lines mismatched; first 5:\n" +
        failed.take(5).map(o =>
          s"  [${o.id}] ${o.mode}: ${o.reason}\n    pql: ${lines(o.id).pql}\n" +
            s"    sql: ${lines(o.id).hsqls.head}").mkString("\n"))
  }

  // ---- mode B: graft's full PQL surface (QueryGenB) --------------------

  test("mode B: generation is deterministic and duck slices are static contracts") {
    assert(QueryGenB.lines(40, seed = 7L) == QueryGenB.lines(40, seed = 7L))
    assert(QueryGenB.lines(40, seed = 7L) != QueryGenB.lines(40, seed = 8L))
    assert(QueryGenB.duckSelLines(10) == QueryGenB.duckSelLines(10))
    assert(QueryGenB.lines(40) == QueryGenB.lines(50).take(40))
  }

  test("mode B: 500 graft-surface lines — full shape coverage, every line matches") {
    val lines = QueryGenB.lines(500, QueryGenB.DefaultSeed)
    val all = lines.map(_.pql)
    def covered(what: String, p: String => Boolean): Unit =
      assert(all.exists(p), s"mode B generated no $what")
    covered("exact percentile", _.matches(""".*PERCENTILE\d+\(.*"""))
    covered("PERCENTILEEST", _.contains("PERCENTILEEST"))
    covered("PERCENTILETDIGEST", _.contains("PERCENTILETDIGEST"))
    covered("percentile MV twin", _.matches(""".*PERCENTILE\d+MV\(.*"""))
    covered("MV aggregation twin", s => Seq("COUNTMV(", "SUMMV(", "MINMV(",
      "MAXMV(", "AVGMV(", "MINMAXRANGEMV(").exists(s.contains))
    covered("DISTINCTCOUNTMV", _.contains("DISTINCTCOUNTMV("))
    covered("DISTINCTCOUNT", _.contains("DISTINCTCOUNT("))
    covered("DISTINCTCOUNTHLL", _.contains("DISTINCTCOUNTHLL("))
    covered("MINMAXRANGE", _.contains("MINMAXRANGE("))
    covered("HAVING", _.contains("HAVING"))
    covered("TIMECONVERT key/projection", _.contains("TIMECONVERT("))
    covered("DATETIMECONVERT key/projection", _.contains("DATETIMECONVERT("))
    covered("VALUEIN group key", _.contains("VALUEIN("))
    covered("arithmetic transform", s => Seq("ADD(", "SUB(", "MULT(", "DIV(")
      .exists(s.contains))
    covered("SELECT DISTINCT", _.startsWith("SELECT DISTINCT"))
    covered("LIMIT offset,size pagination", _.matches(""".*LIMIT \d+, \d+$"""))
    covered("IS NULL predicate", _.contains(" IS NULL"))
    covered("IS NOT NULL predicate", _.contains(" IS NOT NULL"))
    // the hidden-aggregation HAVING path: a HAVING referencing an
    // aggregation that is NOT in the select list
    def predAggs(p: Pql.Pred): Seq[Pql.Expr] = p match {
      case Pql.Cmp(e, _, _) if Pql.isAggExpr(e) => Seq(e)
      case Pql.Between(e, _, _) if Pql.isAggExpr(e) => Seq(e)
      case Pql.AndP(ps) => ps.flatMap(predAggs)
      case Pql.OrP(ps) => ps.flatMap(predAggs)
      case _ => Nil
    }
    val hidden = lines.exists { l =>
      val q = Pql.parse(l.pql)
      val selected = q.select.map(_.toString).toSet
      q.having.exists(h => predAggs(h).exists(e => !selected.contains(e.toString)))
    }
    assert(hidden, "mode B generated no hidden-aggregation HAVING")

    val failed = unmatched(lines)
    assert(failed.isEmpty,
      s"${failed.size}/500 mode-B lines mismatched; first 5:\n" +
        failed.take(5).map(o =>
          s"  [${o.id}] ${o.mode}: ${o.reason}\n    pql: ${lines(o.id).pql}\n" +
            s"    sql: ${lines(o.id).hsqls.head}").mkString("\n"))
  }

  test("MV aggregation over an MV group-by key feeds the row's full entry") {
    // engine regression pin (found by the mode-B sweep): the group-key
    // explode must PRESERVE the array column so an MV aggregation over
    // the same column still sees the whole entry — the reference's
    // group executor feeds the row's full MV value buffer into every
    // group the row lands in
    import spark.implicits._
    val df = Seq((Seq(1, 2), 10), (Seq(2), 20)).toDF("mv", "x")
    val q = Pql.parse("SELECT SUMMV(mv), SUM(x) FROM t GROUP BY mv TOP 10")
    val out = Pql.toDataFrame(q, _ => df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // element-group 1 ← row1 (elements {1,2}): SUMMV = 1+2 = 3
    // element-group 2 ← row1 + row2: SUMMV = (1+2) + 2 = 5
    assert(out === Set((1, 3L, 10L), (2, 5L, 30L)))
  }

  test("mode B duck slices are non-trivial and internally consistent") {
    import graft.queries.CorpusQueries._
    val aggLines = genBDuckLines
    assert(aggLines.length === GenBDuckLines,
      s"600-line pool yields only ${aggLines.length} duckable agg lines — grow GenBPoolSize")
    val slice = CorpusHarness.duckSlice(spark, aggLines).collect()
    assert(slice.length >= GenBDuckLines)
    // one oracle branch per (line, agg) — counted by its `AS agg_idx`
    // marker (MV element-view twins contain UNION ALL internally, so
    // splitting on that would overcount)
    assert(CorpusHarness.duckOracle(aggLines).split("AS agg_idx").length - 1 === slice.length)
    // selection slice: the Spark-side rows must exactly equal the twin
    // statement executed by Spark SQL over the flat view (DuckDB then
    // re-values the same statement externally via the driver oracle)
    val fx = CorpusHarness.fixture(spark)
    val selLines = QueryGenB.duckSelLines(GenBSelLines)
    val twinRows = selLines.flatMap { l =>
      spark.sql(l.hsqls.head).collect().map { r =>
        val cells = (0 until r.length).map(i => String.valueOf(r.get(i))).padTo(3, "")
        (l.id, cells(0), cells(1), cells(2))
      }
    }.toSet
    val engineRows = CorpusHarness.duckSelSlice(spark, selLines).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(engineRows === twinRows,
      "mode-B selection slice differs from its Spark-SQL twin")
    assert(engineRows.nonEmpty)
  }

  // ---- rotating-seed gate (both grammars) ------------------------------

  test("rotating-seed sweep: today's generated lines (both grammars) all match") {
    // A FRESH combination space every round (seed = UTC date) on top
    // of the fixed-seed sets. NON-FATAL-BUT-LOUD by design (r11
    // ADVICE): the same commit must not pass one day and fail the
    // next on unrelated CI runs, so a mismatch CANCELS with the full
    // repro printed instead of failing.
    //
    // PROTOCOL on first fire: reproduce with
    // QueryGen[B].lines(150, <printed seed>), fix the divergence, and
    // add (grammar, seed, id) to PinnedRegressions below so the case
    // runs FATALLY forever after. The wide sweep main
    // (`graft.HarnessSweep a|b <seeds> …`) exits 1 on any mismatch.
    val seed = QueryGen.rotatingSeed()
    def sweep(tag: String, lines: Vector[OnTimeCorpus.Line]): Seq[String] =
      unmatched(lines).map(o =>
        s"[grammar $tag seed=$seed id=${o.id}] ${o.mode}: ${o.reason}\n" +
          s"  pql: ${lines(o.id).pql}\n  sql: ${lines(o.id).hsqls.head}")
    val bad = sweep("A", QueryGen.lines(150, seed)) ++
      sweep("B", QueryGenB.lines(150, seed))
    if (bad.nonEmpty) {
      bad.foreach(alert(_))
      cancel(s"${bad.size} rotating-seed mismatches (seed=$seed) — " +
        "fix and add to PinnedRegressions per the protocol above")
    }
  }

  /** (grammar, seed, lineId) cases discovered by the rotating sweep,
    * pinned here after the fix so they re-run fatally every build. */
  private val PinnedRegressions: Seq[(String, Long, Int)] = Nil

  test("pinned rotating-seed regressions stay fixed") {
    PinnedRegressions.foreach { case (g, seed, id) =>
      val line =
        if (g == "B") QueryGenB.lines(id + 1, seed)(id)
        else QueryGen.lines(id + 1, seed)(id)
      unmatched(Seq(line)).foreach(o => fail(s"pinned regression ($g, seed=$seed, id=$id) " +
        s"regressed: ${o.reason}\n  pql: ${line.pql}"))
    }
  }

  test("the q_querygen_duck slice is non-trivial and a static contract") {
    import graft.queries.CorpusQueries._
    val aggLines = genDuckLines
    assert(aggLines.length === GenDuckLines,
      s"generated pool yields only ${aggLines.length} agg-only lines — grow GenPoolSize")
    val slice = CorpusHarness.duckSlice(spark, aggLines).collect()
    assert(slice.length >= GenDuckLines, "each agg-only line contributes ≥1 value row")
    // the oracle is a static contract: one SELECT per (line, agg)
    assert(CorpusHarness.duckOracle(aggLines).split("UNION ALL").length === slice.length)
  }
}
