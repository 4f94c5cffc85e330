package graft

import org.apache.spark.sql.functions._
import graft.operators.Percentiles

/** [[Percentiles.exact]] must be value-identical to Spark's own exact
  * `percentile` aggregate (which is itself the reference's
  * PercentileAggregationFunction semantics) — same interpolation,
  * same null handling — while scaling by distinct (key, value) pairs
  * instead of per-group buffers. */
class PercentilesSpec extends SparkSpec {
  import spark.implicits._

  private val fractions =
    Seq(0.0 -> "p0", 0.25 -> "p25", 0.5 -> "p50", 0.95 -> "p95", 1.0 -> "p100")

  private def sparkBuiltin(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], valueCol: String) = {
    val arr = fractions.map(_._1).mkString(",")
    df.groupBy(keys.map(col): _*)
      .agg(expr(s"percentile($valueCol, array($arr))").as("_p"))
      .select(keys.map(col) ++ fractions.zipWithIndex.map { case ((_, n), i) =>
        element_at($"_p", i + 1).as(n)
      }: _*)
  }

  private def assertParity(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], valueCol: String): Unit = {
    val got = Percentiles.exact(df, keys, valueCol, fractions)
      .orderBy(keys.map(col): _*).collect()
    val want = sparkBuiltin(df, keys, valueCol)
      .orderBy(keys.map(col): _*).collect()
    assert(got.length == want.length,
      s"group count ${got.length} != ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      (0 until w.length).foreach { i =>
        val (gv, wv) = (g.get(i), w.get(i))
        (gv, wv) match {
          case (a: Double, b: Double) =>
            assert(math.abs(a - b) <= math.abs(b) * 1e-12 + 1e-12,
              s"col $i: $a != $b in group ${g.get(0)}")
          case _ => assert(gv == wv, s"col $i: $gv != $wv")
        }
      }
    }
  }

  test("parity with Spark percentile: repeats, singletons, negatives, nulls") {
    val rows = Seq(
      ("a", Some(1.0)), ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(10.0)),
      ("b", Some(5.5)),                         // singleton group
      ("c", Some(-3.0)), ("c", Some(0.0)), ("c", Some(7.0)), ("c", Some(7.0)),
      ("c", Some(7.0)), ("c", None),            // nulls ignored
      ("d", Some(2.25)), ("d", Some(2.75)))
    assertParity(rows.toDF("k", "v"), Seq("k"), "v")
  }

  test("parity on seeded random data with two grouping keys") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 5000).map { _ =>
      (rnd.nextInt(3), rnd.nextInt(2), math.floor(rnd.nextDouble() * 50) / 2.0)
    }
    assertParity(rows.toDF("k1", "k2", "v"), Seq("k1", "k2"), "v")
  }

  test("all-null group vanishes, like the builtin's null result being its only row") {
    val df = Seq(("a", Option(1.0)), ("z", Option.empty[Double])).toDF("k", "v")
    val out = Percentiles.exact(df, Seq("k"), "v", Seq(0.5 -> "p50"))
      .orderBy($"k").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a"))
    assert(out.head.getDouble(1) == 1.0)
  }

  test("countColumn reports the group's non-null value count") {
    val df = Seq(("a", Option(1.0)), ("a", Option(2.0)), ("a", Option.empty[Double]),
      ("b", Option(5.0))).toDF("k", "v")
    val out = Percentiles.exact(df, Seq("k"), "v", Seq(0.5 -> "p50"),
        countColumn = Some("n"))
      .orderBy($"k").select($"k", $"n").as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 2L), ("b", 1L)))
  }

  test("histogramAggs: nearest-rank spec returns actual data values") {
    import graft.operators.Percentiles.Spec
    val df = Seq(1, 2, 3, 4, 10).map(v => ("g", v.toDouble)).toDF("k", "v")
    val out = Percentiles.histogramAggs(df, Seq("k"), "v", Seq(
        Spec(0.5, "nr50", nearestRank = true),
        Spec(0.5, "li50", nearestRank = false),
        Spec(0.0, "nr0", nearestRank = true),
        Spec(1.0, "nr100", nearestRank = true)))
      .head()
    // rank ceil(0.5·5) = 3 → value 3 (a real value, no interpolation)
    assert(out.getDouble(1) === 3.0)
    assert(out.getDouble(2) === 3.0) // interpolated p50 of odd n = median
    assert(out.getDouble(3) === 1.0) // f=0 → rank max(0,1) = 1 → min
    assert(out.getDouble(4) === 10.0) // f=1 → rank n → max
  }

  test("histogramAggs: empty keys = global aggregate, always one row") {
    import graft.operators.Percentiles.Spec
    val df = Seq(5.0, 1.0, 3.0).toDF("v")
    val out = Percentiles.histogramAggs(df, Nil, "v",
      Seq(Spec(0.5, "p50", nearestRank = false)))
    assert(out.count() === 1)
    assert(out.head().getDouble(0) === 3.0)
    // empty input still yields exactly one (null) row — aggregate
    // without grouping semantics
    val empty = Percentiles.histogramAggs(df.filter($"v" > 100), Nil, "v",
      Seq(Spec(0.5, "p50", nearestRank = false)))
    assert(empty.count() === 1)
    assert(empty.head().isNullAt(0))
  }

  test("histogramAggs: keepNullGroups keeps all-null groups with null results") {
    import graft.operators.Percentiles.Spec
    val df = Seq(("a", Option(1.0)), ("a", Option(2.0)), ("z", Option.empty[Double]))
      .toDF("k", "v")
    val out = Percentiles.histogramAggs(df, Seq("k"), "v",
        Seq(Spec(0.5, "li", nearestRank = false), Spec(0.5, "nr", nearestRank = true)),
        countColumn = Some("n"), keepNullGroups = true)
      .orderBy($"k").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "z"))
    assert(out(0).getDouble(1) === 1.5 && out(0).getDouble(2) === 1.0 &&
      out(0).getLong(3) === 2L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).getLong(3) === 0L)
  }

  test("NaN values rank LAST (Spark sort order), across bucket boundaries") {
    import graft.operators.Percentiles.Spec
    // floor(NaN) would bucket NaN at 0 and rank it mid-distribution;
    // the NaN bucket must sort after every finite bucket — including
    // values >= 65536 that live outside NaN's would-be bucket 0
    val df = Seq(70000.0, Double.NaN, 1.0, 80000.0).map(("g", _)).toDF("k", "v")
    val out = Percentiles.histogramAggs(df, Seq("k"), "v",
      Seq(Spec(0.5, "nr", nearestRank = true), Spec(1.0, "top", nearestRank = true)))
      .head()
    // builtin parity: percentile() also sorts NaN last
    assert(out.getDouble(1) === 70000.0, s"p50 got ${out.getDouble(1)}")
    assert(out.getDouble(2).isNaN, "p100 is the NaN (sorts greatest)")
    // and the global (empty-keys) path agrees
    val g = Percentiles.histogramAggs(df.select($"v"), Nil, "v",
      Seq(Spec(0.5, "nr", nearestRank = true))).head()
    assert(g.getDouble(0) === 70000.0)
  }

  test("plan shape: one shuffle of distinct pairs, no full-value buffers") {
    val df = Seq.tabulate(100)(i => ("g", (i % 10).toDouble)).toDF("k", "v")
    val plan = Percentiles.exact(df, Seq("k"), "v", Seq(0.5 -> "p50"))
      .queryExecution.executedPlan.toString
    // the distribution travels as a histogram (partial count before the
    // exchange), never through percentile's per-group value map
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      plan)
    assert(!plan.contains("percentile"), plan)
  }

  // ---- rankSelect (the near-unique global path) ----

  private val rsSpecs = Seq(
    Percentiles.Spec(0.0, "p0", nearestRank = false),
    Percentiles.Spec(0.25, "p25", nearestRank = false),
    Percentiles.Spec(0.5, "p50", nearestRank = false),
    Percentiles.Spec(0.95, "p95", nearestRank = false),
    Percentiles.Spec(1.0, "p100", nearestRank = false),
    Percentiles.Spec(0.5, "nr50", nearestRank = true),
    Percentiles.Spec(0.99, "nr99", nearestRank = true))

  private def assertSelectParity(df: org.apache.spark.sql.DataFrame,
      valueCol: String, cap: Long = 2L << 20, buckets: Int = 8192): Unit = {
    val got = Percentiles.rankSelect(df, valueCol, rsSpecs, cap, buckets).head()
    val want = Percentiles.histogramAggs(df, Nil, valueCol, rsSpecs).head()
    (0 until rsSpecs.length).foreach { i =>
      (got.isNullAt(i), want.isNullAt(i)) match {
        case (true, true) => ()
        case (false, false) =>
          val (a, b) = (got.getDouble(i), want.getDouble(i))
          assert(a == b || (a.isNaN && b.isNaN),
            s"${rsSpecs(i).name}: rankSelect $a != histogram $b")
        case _ => fail(s"${rsSpecs(i).name}: null mismatch ($got vs $want)")
      }
    }
  }

  test("rankSelect parity: ties, nulls, negatives, singletons") {
    assertSelectParity(Seq(Some(1.0), Some(1.0), Some(2.0), Some(10.0),
      None, Some(-3.0), Some(0.0), Some(7.0), Some(7.0), Some(7.0),
      Some(2.25), Some(2.75)).toDF("v"), "v")
    assertSelectParity(Seq(5.5).toDF("v"), "v") // single row
    assertSelectParity(Seq(3.0, 3.0, 3.0, 3.0).toDF("v"), "v") // one giant tie
  }

  test("rankSelect parity: seeded near-unique data (forces narrowing passes)") {
    // tiny cap + few buckets force SEVERAL narrowing iterations on
    // unit-test-sized data — the exact code path the 1B run takes
    val rnd = new scala.util.Random(7)
    val data = (1 to 20000).map(_ => rnd.nextDouble() * 1e9 - 5e8)
    assertSelectParity(data.toDF("v"), "v", cap = 50, buckets = 16)
    // heavily skewed: 90% in a thin sliver, long sparse tail (most
    // cells empty; the sliver cell stalls until the range re-centers)
    val skew = (1 to 20000).map { i =>
      if (i % 10 == 0) rnd.nextDouble() * 1e12 else 1000.0 + rnd.nextDouble()
    }
    assertSelectParity(skew.toDF("v"), "v", cap = 50, buckets = 16)
    // integer-ish values with massive duplicate ranges: narrowing
    // cannot shrink past a tie — the final histogram absorbs it
    val dup = (1 to 20000).map(i => (i % 37).toDouble)
    assertSelectParity(dup.toDF("v"), "v", cap = 50, buckets = 16)
    // adjacent-double torture: values one ulp apart (width underflow)
    val base = 12345.6789
    val ulps = (1 to 500).map(i =>
      (1 to i % 7 + 1).map(_ => java.lang.Math.nextUp(base * (1 + (i % 13) * 1e-16)))).flatten
    assertSelectParity(ulps.toDF("v"), "v", cap = 10, buckets = 4)
  }

  test("rankSelect: empty input and all-null input give null results") {
    val empty = Percentiles.rankSelect(
      Seq.empty[Double].toDF("v"), "v", rsSpecs.take(2)).head()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    val allNull = Percentiles.rankSelect(
      Seq[Option[Double]](None, None).toDF("v"), "v", rsSpecs.take(2)).head()
    assert(allNull.isNullAt(0) && allNull.isNullAt(1))
  }

  test("rankSelect: NaN sorts greatest (histogramAggs NaN-bucket contract)") {
    val df = Seq(1.0, 2.0, 3.0, Double.NaN, Double.NaN).toDF("v")
    val got = Percentiles.rankSelect(df, "v", Seq(
      Percentiles.Spec(0.25, "p25", nearestRank = false),
      Percentiles.Spec(1.0, "p100", nearestRank = false)))
      .head()
    assert(got.getDouble(0) == 2.0, s"p25 ${got.getDouble(0)}")
    assert(got.getDouble(1).isNaN, "p100 over a NaN tail must be NaN")
  }

  test("rankSelect: infinities fall back to the unbucketed final pass") {
    val df = Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0,
      Double.PositiveInfinity).toDF("v")
    assertSelectParity(df, "v")
  }

  test("rankSelect: more fused cells than the collect bound retreat to the stats pass") {
    // bits 40+ of i << 40 differ row to row, so every value sits in its
    // own 24-bit radix cell (sign, exponent, 12 mantissa bits): 270,000
    // cells trip the global fused bound of 2^18 + 1, the fused collect
    // is truncated, and the dedicated stats pass plus the narrowing
    // loop answer. Positive doubles sort as their bit patterns, so the
    // data is already in value order.
    val data = (0L until 270000L).map(i => java.lang.Double.longBitsToDouble(i << 40))
    val df = data.toDF("v")
    assert(df.select(graft.functions.GraftFunctions.radixCell(col("v"), 24))
      .distinct().count() > (1L << 18) + 1)
    val got = Percentiles.rankSelect(df, "v", rsSpecs).head()
    val interp = rsSpecs.filterNot(_.nearestRank)
    val want = df.agg(expr(
      s"percentile(v, array(${interp.map(_.fraction).mkString(",")}))")).head().getSeq[Double](0)
    rsSpecs.zipWithIndex.foreach { case (s, i) =>
      val a = got.getDouble(i)
      if (s.nearestRank) {
        // the data value at 1-indexed rank max(ceil(f * n), 1)
        val b = data((math.max(math.ceil(s.fraction * data.size).toLong, 1L) - 1).toInt)
        assert(a == b, s"${s.name}: $a != $b")
      } else {
        // 1-ULP slack: percentile computes lo*(1-w)+hi*w, rankSelect
        // lo+w*(hi-lo) — equal reals, not always equal floats
        val b = want(interp.indexOf(s))
        assert(a == b || math.abs(a - b) <= math.ulp(math.max(math.abs(a), math.abs(b))),
          s"${s.name}: $a != $b")
      }
    }
  }

  private def assertKeyedParity(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], valueCol: String,
      cap: Long = 2L << 20, buckets: Int = 8192): Unit = {
    val got = Percentiles.rankSelectKeyed(df, keys, valueCol, rsSpecs, cap, buckets)
      .orderBy(keys.map(col): _*).collect()
    val want = Percentiles.histogramAggs(df, keys, valueCol, rsSpecs,
        keepNullGroups = true)
      .select((keys.map(col) ++ rsSpecs.map(s => col(s.name))): _*)
      .orderBy(keys.map(col): _*).collect()
    assert(got.length == want.length,
      s"group count ${got.length} != ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      keys.indices.foreach(i => assert(g.get(i) == w.get(i), s"key: $g vs $w"))
      rsSpecs.indices.foreach { i =>
        val gi = keys.length + i
        (g.isNullAt(gi), w.isNullAt(gi)) match {
          case (true, true) => ()
          case (false, false) =>
            val (a, b) = (g.getDouble(gi), w.getDouble(gi))
            assert(a == b || (a.isNaN && b.isNaN),
              s"${rsSpecs(i).name} @ ${g.get(0)}: keyed $a != histogram $b")
          case _ => fail(s"${rsSpecs(i).name}: null mismatch ($g vs $w)")
        }
      }
    }
  }

  test("rankSelectKeyed parity: near-unique values per group, forced narrowing") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 20000).map(i =>
      (s"g${i % 3}", rnd.nextDouble() * 1e9 - 5e8)).toDF("k", "v")
    assertKeyedParity(df, Seq("k"), "v", cap = 50, buckets = 16)
  }

  test("rankSelectKeyed parity: skewed groups, ties, all-null group, NaN") {
    val rnd = new scala.util.Random(5)
    val rows: Seq[(String, Option[Double])] =
      (1 to 8000).map(i => ("dense", Some(1000.0 + rnd.nextDouble()))) ++
        (1 to 200).map(i => ("ties", Some((i % 5).toDouble))) ++
        Seq(("nulls", None), ("nulls", None)) ++
        (1 to 100).map(_ => ("nan", Some(Double.NaN))) ++
        (1 to 300).map(i => ("mix", if (i % 4 == 0) None
          else Some(rnd.nextDouble() * 100 - 50)))
    assertKeyedParity(rows.toDF("k", "v"), Seq("k"), "v", cap = 20, buckets = 8)
  }

  test("rankSelectKeyed parity: two grouping keys incl. a null key value") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 6000).map { i =>
      val k1 = if (i % 17 == 0) null else s"a${i % 2}"
      (k1, (i % 3).toLong, rnd.nextDouble() * 1e6)
    }
    assertKeyedParity(rows.toDF("k1", "k2", "v"), Seq("k1", "k2"), "v",
      cap = 30, buckets = 8)
  }

  test("rankSelectKeyed: >64 groups answers through the histogram fallback") {
    val rnd = new scala.util.Random(9)
    val df = (1 to 20000).map(i => (i % 100, rnd.nextDouble())).toDF("k", "v")
    assertKeyedParity(df, Seq("k"), "v")
    // the fallback frame is LAZY (histogramAggs), unlike the eager
    // local result — both satisfy the same parity either way; 100 > 64
    // groups with a SMALL estimated (key, value) state (20k distinct
    // ≤ the default bound) is the histogram's good regime
  }

  test("rankSelectKeyed: >64 groups over near-unique values route to the " +
      "histogram, values pinned against an INDEPENDENT oracle") {
    // 100 groups x near-unique doubles: the shape the (reverted) r10
    // chunked-narrowing branch existed for — probed 10x SLOWER than
    // the histogram it bypassed (215 s vs 21.6 s at 100M, recorded
    // in SURVEY.md, round 10), so >64 groups answer from histogramAggs
    // unconditionally. Since the route IS histogramAggs, comparing
    // against histogramAggs would be tautological; the oracle here is
    // Spark's own exact `percentile` (interpolated specs) and a
    // window-rank formulation (nearest-rank spec) — two unrelated
    // implementations — incl. a null key and an all-null group.
    val rnd = new scala.util.Random(21)
    val rows: Seq[(Integer, Option[Double])] =
      (1 to 30000).map { i =>
        val k: Integer = if (i % 997 == 0) null else Int.box(i % 100)
        (k, Some(rnd.nextDouble() * 1e9))
      } ++ Seq((Int.box(100), None), (Int.box(100), None))
    val df = rows.toDF("k", "v")
    val keyed = Percentiles.rankSelectKeyed(df, Seq("k"), "v", rsSpecs)
    // routing: the histogram route returns the LAZY aggregation frame;
    // the narrowing route would have collected to a local relation
    assert(!keyed.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "expected the lazy histogram route at 101 groups, got a local result")
    val got = keyed.orderBy(col("k")).collect()
    val interp = rsSpecs.filterNot(_.nearestRank)
    val oracleAggs = interp.map(s =>
        expr(s"percentile(v, ${s.fraction})").as(s.name)) ++
      rsSpecs.filter(_.nearestRank).map(s =>
        // nearest-rank: the data value at 1-indexed rank
        // max(ceil(f*n), 1) — an ordered-collect formulation
        // sharing no code with the histogram plan. `get` (not
        // `[..]`): null — not an ANSI error — on the all-null
        // group's empty array
        expr(s"get(sort_array(collect_list(v)), cast(greatest(ceil(${s.fraction} * count(v)), 1) as int) - 1)")
          .as(s.name))
    val oracle = df.groupBy(col("k")).agg(oracleAggs.head, oracleAggs.tail: _*)
      .select(col("k") +: rsSpecs.map(s => col(s.name)): _*)
      .orderBy(col("k")).collect()
    assert(got.length == oracle.length, s"${got.length} != ${oracle.length}")
    got.zip(oracle).foreach { case (g, w) =>
      assert(g.get(0) == w.get(0), s"key: $g vs $w")
      rsSpecs.indices.foreach { i =>
        (g.isNullAt(i + 1), w.isNullAt(i + 1)) match {
          case (true, true) => ()
          case (false, false) =>
            val (a, b) = (g.getDouble(i + 1), w.getDouble(i + 1))
            // nearest-rank values are actual data values — exact;
            // interpolated specs allow 1-ULP association slack
            // (Spark's percentile computes lo*(1-w)+hi*w, the
            // histogram lo+w*(hi-lo) — equal reals, not equal floats)
            val ok =
              if (rsSpecs(i).nearestRank) a == b
              else a == b || math.abs(a - b) <= math.ulp(math.max(math.abs(a), math.abs(b)))
            assert(ok,
              s"${rsSpecs(i).name} @ ${g.get(0)}: $a != $b")
          case _ => fail(s"${rsSpecs(i).name}: null mismatch ($g vs $w)")
        }
      }
    }
  }

  test("rankSelectKeyed: a high-cardinality key routes to the histogram " +
      "with the stats collect bounded (no driver flood)") {
    val rnd = new scala.util.Random(17)
    val df = (1 to 30000).map(i => (i % 1500, rnd.nextDouble() * 1e6))
      .toDF("k", "v")
    assertKeyedParity(df, Seq("k"), "v")
    val got = Percentiles.rankSelectKeyed(df, Seq("k"), "v", rsSpecs.take(1))
    assert(got.count() === 1500)
  }

  test("rankSelectKeyed: empty input returns an empty keyed frame") {
    val df = Seq.empty[(String, Double)].toDF("k", "v")
    assert(Percentiles.rankSelectKeyed(df, Seq("k"), "v", rsSpecs).count() === 0)
  }

  test("rankSelectKeyed parity: BINARY group key (value-equality regrouping)") {
    // A BinaryType key comes back from the fused collect as Array[Byte]
    // (reference equality): un-normalized, one real group's cell rows
    // split into pseudo-groups whose identical-literal predicates all
    // match the same rows — understating `below` counts and corrupting
    // ranks (ADVICE r12). Near-unique values + tiny cap force narrowing
    // so the fused cells and the loop both run over the binary key.
    val rnd = new scala.util.Random(29)
    val rows = (1 to 12000).map { i =>
      (Array[Byte]((i % 3).toByte, 0x7f.toByte), rnd.nextDouble() * 1e9)
    }
    val df = rows.toDF("k", "v")
    val got = Percentiles.rankSelectKeyed(df, Seq("k"), "v", rsSpecs,
        cap = 50, buckets = 16)
      .select(hex(col("k")).as("k") +: rsSpecs.map(s => col(s.name)): _*)
      .orderBy(col("k")).collect()
    val want = Percentiles.histogramAggs(df, Seq("k"), "v", rsSpecs,
        keepNullGroups = true)
      .select(hex(col("k")).as("k") +: rsSpecs.map(s => col(s.name)): _*)
      .orderBy(col("k")).collect()
    assert(got.length == 3, s"expected 3 groups, got ${got.length}")
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0), s"key: $g vs $w")
      rsSpecs.indices.foreach { i =>
        val (a, b) = (g.getDouble(i + 1), w.getDouble(i + 1))
        assert(a == b || (a.isNaN && b.isNaN),
          s"${rsSpecs(i).name} @ ${g.getString(0)}: keyed $a != histogram $b")
      }
    }
  }
}
