package graft.pql

import scala.collection.mutable
import scala.util.Random

/** Mode-B randomized query generator: graft's FULL PQL surface.
  *
  * [[QueryGen]] is a faithful port of the reference's randomized
  * QueryGenerator (`pinot-integration-tests/.../QueryGenerator.java`)
  * and therefore only emits the reference's shape grammar —
  * SUM/MIN/MAX/AVG/COUNT, comparison/IN/BETWEEN/REGEXP_LIKE, plain
  * group-bys. The surfaces graft REWROTE the most (and that carry the
  * most residual risk) never appear there: the percentile family
  * (exact histogram / rank-narrowing / sketch routing, changed in r6,
  * r8, r9, r10), the MV aggregation twins (explode_outer
  * sub-aggregation joins), DISTINCTCOUNT/DISTINCTCOUNTHLL (codegen
  * register plan), HAVING (the reference's own TODO — graft executes
  * it, including hidden not-selected aggregations), and transform
  * expressions (ADD/SUB/MULT/DIV, TIMECONVERT, DATETIMECONVERT,
  * VALUEIN) in aggregation arguments and group-by keys. The predicate
  * draw additionally emits `IS [NOT] NULL` on single-value columns
  * (a graft superset — the reference parses but cannot execute null
  * predicates, so mode A's faithful grammar never draws them).
  *
  * This generator emits exactly those shapes, each paired with an
  * independently-written Spark-SQL twin over the H2-style flattened
  * view (`mytable`), compared by [[CorpusHarness]]'s reference
  * comparator. Twin design notes (each an independent second
  * implementation, not an echo of the engine's plan):
  *
  *  - MV aggregations compile against the flat `__MV0..4` slots:
  *    COUNTMV = ΣCOUNT(slot); SUMMV = SUM of per-row COALESCE sums
  *    (null over zero matched rows, like the engine's explode_outer
  *    sub-aggregation); MINMV/MAXMV via null-skipping LEAST/GREATEST;
  *    AVGMV divides with a NULLIF(count, 0) guard (ANSI mode —
  *    division by a zero count must be NULL, not an error);
  *    DISTINCTCOUNT[HLL]MV and PERCENTILE\d+MV read a 5-branch
  *    UNION ALL element view (`_v`), whose multiset equals the
  *    engine's exploded elements.
  *  - PERCENTILE\d+ twins use Spark's exact `percentile` (the engine
  *    routes narrow-int columns to the distributed value histogram and
  *    wide columns to rank-narrowing selection — both must equal the
  *    buffer-exact interpolated answer). PERCENTILEEST\d+ /
  *    PERCENTILETDIGEST\d+ are generated over NARROW INT columns,
  *    where the engine's contract is the EXACT nearest-rank value
  *    (rank error 0 against the reference's ≤5% QuantileDigest bound);
  *    the twin is `percentile_disc(q) WITHIN GROUP (ORDER BY c)` —
  *    verified here: disc's "smallest value with cume_dist ≥ q" is
  *    the value at 1-indexed rank max(ceil(q·n), 1), exactly
  *    [[graft.operators.Percentiles]]'s nearestRank. Wide-column
  *    EST/TDIGEST stays OUT of the generated grammar: both sides
  *    would run percentile_approx whose summary merge is
  *    fetch-order-sensitive, so equality is not a contract — the
  *    sketch path is pinned by the fixed q_percentile_approx /
  *    q_tdigest_compat oracle rows instead.
  *  - A group-by key may be a transform expression (TIMECONVERT /
  *    DATETIMECONVERT / DIV / ADD); the twin repeats the mirrored SQL
  *    arithmetic (`pmod` flooring exactly as
  *    [[graft.functions.DateTimeOps]] compiles it).
  *  - At most one group key may be multi-value (a plain MV column or
  *    VALUEIN over one); the twin then groups the 5-branch
  *    `SELECT *, slot AS _gm` union view, filtered `IS NOT NULL`
  *    (plain — explode semantics: each row counts once per element)
  *    or `IN (...)` (VALUEIN — only retained elements group).
  *  - HAVING appears on ~a third of grouped lines, referencing either
  *    a selected aggregation or a FRESH one (the hidden-aggregation
  *    compile path); the twin appends the same HAVING over its own
  *    SQL aggregate.
  *
  * ANSI-mode discipline (spark.sql.ansi.enabled=true is the session
  * default): arithmetic shapes are drawn so neither side can throw —
  * ADD/SUB over schema columns bounded far below 2^31, MULT/DIV by
  * small positive literals only.
  *
  * Like mode A, everything is seeded and Spark-free at generation
  * time, so `oracleSql` stays a static contract. Test-harness
  * plumbing, not engine code.
  */
object QueryGenB {

  import QueryGen.{Col, join}

  /** Fixed seed for the driver-gated sample (distinct from mode A's
    * so the two gates never correlate). */
  val DefaultSeed = 20260912L

  private val MaxAggs = 3
  private val MaxGroupByCols = 3
  private val MaxSelectionCols = 3
  private val MaxOrderByCols = 3
  private val MaxResultLimit = 30

  /** A generated line plus slice metadata: `duckAgg` marks
    * aggregation-only lines whose every twin runs in DuckDB after the
    * global function renames (percentile → quantile_cont,
    * regexp_like → regexp_matches). */
  final case class GenLine(line: OnTimeCorpus.Line, duckAgg: Boolean)

  private def slots(c: String): Seq[String] = (0 until 5).map(i => s"${c}__MV$i")

  final class Generator(cols: Vector[Col], pools: Map[String, Vector[String]],
      seed: Long) {
    private val rnd = new Random(seed)
    // the reference predicate machinery (incl. MV OR-expansion), on
    // its own seeded stream so mode-B draws don't perturb it
    private val predGen = new QueryGen.Generator(cols, pools,
      seed ^ 0x9E3779B97F4A7C15L, nullPredicates = true)

    private val sv = cols.filter(!_.multiValue)
    private val svNumeric = sv.filter(_.numeric)
    private val svNarrow = sv.filter(_.dataType == "INT")
    private val mv = cols.filter(_.multiValue)
    private val mvNumeric = mv.filter(_.numeric)
    // whole-valued columns: percentile interpolation lands on 2-decimal
    // rationals → DuckDB round(…,6) compares clean (see duckable notes)
    private def wholeValued(c: Col) = c.dataType == "INT" || c.dataType == "LONG"

    private def pick[T](xs: Vector[T]): T = xs(rnd.nextInt(xs.length))
    private def pool(c: Col): Vector[String] = pools.getOrElse(c.name, Vector.empty)
    private def drawDistinct[T](xs: Vector[T], n: Int): Vector[T] = {
      val want = math.min(n, xs.size)
      val out = mutable.LinkedHashSet.empty[T]
      while (out.size < want) out += pick(xs)
      out.toVector
    }

    // ---- transform expressions (pqlExpr, sqlTwinExpr) ----------------

    /** ANSI-safe arithmetic: column magnitudes in this schema top out
      * around 1.3e6 (AirportSeqIDs), so col±col and col×9 stay far
      * under 2^31 — neither engine can hit an ANSI overflow. The third
      * element marks FLOAT involvement: Spark computes float
      * arithmetic IN float (round each op), DuckDB promotes float
      * operands to double first (exact op) — observed 12176.5 vs
      * 12176.499634 on a float range — so float-arith shapes stay out
      * of the DuckDB-valued slice (the Spark twin still checks them). */
    private def arithExpr(): (String, String, Boolean) = {
      val a = pick(svNumeric)
      def fl(cs: Col*) = cs.exists(_.dataType == "FLOAT")
      rnd.nextInt(4) match {
        case 0 =>
          val b = pick(svNumeric)
          (s"ADD(${a.name}, ${b.name})", s"(${a.name} + ${b.name})", fl(a, b))
        case 1 =>
          val b = pick(svNumeric)
          (s"SUB(${a.name}, ${b.name})", s"(${a.name} - ${b.name})", fl(a, b))
        case 2 =>
          val k = 2 + rnd.nextInt(8)
          (s"MULT(${a.name}, $k)", s"(${a.name} * $k)", fl(a))
        case _ =>
          val k = 2 + rnd.nextInt(8) // positive literal: no ANSI div-by-zero
          (s"DIV(${a.name}, $k)", s"(${a.name} / $k)", fl(a))
      }
    }

    private val TimeUnits =
      Vector(("HOURS", 3600000L), ("MINUTES", 60000L), ("SECONDS", 1000L),
        ("MILLISECONDS", 1L), ("DAYS", 86400000L))

    /** TIMECONVERT twin mirrors DateTimeOps.timeConvert exactly:
      * ms = CAST(c AS BIGINT)·fromMs; out = ⌊ms/toMs⌋ via pmod. */
    private def timeConvertExpr(): (String, String) = {
      val (u, t) = pick(TimeUnits)
      val ms = "(CAST(DaysSinceEpoch AS BIGINT) * 86400000)"
      (s"TIMECONVERT(DaysSinceEpoch, 'DAYS', '$u')",
        s"CAST(($ms - pmod($ms, $t)) / $t AS BIGINT)")
    }

    /** DATETIMECONVERT (EPOCH↔EPOCH) twin mirrors
      * DateTimeOps.dateTimeConvert: to-millis, floor to granularity,
      * emit in the output bucket size. */
    private def dateTimeConvertExpr(): (String, String) = {
      val (outSize, outUnit, outMs) = pick(Vector(
        (1, "DAYS", 86400000L), (1, "HOURS", 3600000L), (6, "HOURS", 21600000L),
        (12, "HOURS", 43200000L), (30, "MINUTES", 1800000L)))
      val (gSize, gUnit, gMs) = pick(Vector(
        (1, "DAYS", 86400000L), (2, "DAYS", 172800000L), (1, "HOURS", 3600000L)))
      val ms = "(CAST(DaysSinceEpoch AS BIGINT) * 86400000)"
      val bucketed = s"($ms - pmod($ms, $gMs))"
      (s"DATETIMECONVERT(DaysSinceEpoch, '1:DAYS:EPOCH', '$outSize:$outUnit:EPOCH', '$gSize:$gUnit')",
        s"CAST(($bucketed - pmod($bucketed, $outMs)) / $outMs AS BIGINT)")
    }

    // ---- aggregation picks -------------------------------------------

    /** One aggregation: PQL call + SQL twin. `unionMv` = Some(col)
      * when the twin expression reads `_v` of that column's 5-branch
      * element view instead of plain `mytable` rows. */
    private final case class AggPick(pql: String, twin: String,
        unionMv: Option[String], havingOk: Boolean, duckable: Boolean,
        thresholdPool: Vector[String])

    private def numericPool(c: Col): Vector[String] =
      if (c.numeric) pool(c) else Vector.empty

    /** SUM/AVG twins cast float inputs to DOUBLE: Spark accumulates
      * float sums in a double buffer, but DuckDB's float SUM loses
      * sub-unit bits past 2^24 — every fixture value is dyadic, so
      * double accumulation is exact (identical) in both engines. */
    private def sumSafe(f: String, expr: String, isFloat: Boolean): String =
      if ((f == "SUM" || f == "AVG") && isFloat) s"$f(CAST($expr AS DOUBLE))"
      else s"$f($expr)"

    private def basicAgg(): AggPick = {
      val f = pick(Vector("SUM", "MIN", "MAX", "AVG", "COUNT"))
      val c = if (f == "COUNT") pick(sv) else pick(svNumeric)
      AggPick(s"$f(${c.name})",
        sumSafe(f, c.name, c.dataType == "FLOAT" || c.dataType == "DOUBLE"),
        None, havingOk = true, duckable = true,
        if (f == "COUNT") Vector.empty else numericPool(c))
    }

    private def aggPick(): AggPick = rnd.nextInt(12) match {
      case 0 | 1 | 2 => basicAgg()
      case 3 => // basic aggregation over a transform expression
        val f = pick(Vector("SUM", "MIN", "MAX", "AVG", "COUNT"))
        val (p, s, anyFloat) = arithExpr()
        AggPick(s"$f($p)", sumSafe(f, s, isFloat = true), None,
          havingOk = true, duckable = !anyFloat, Vector.empty)
      case 4 =>
        // FLOAT ranges stay out of the duck slice: Spark subtracts in
        // float, DuckDB in double (see arithExpr)
        val c = pick(svNumeric)
        AggPick(s"MINMAXRANGE(${c.name})", s"MAX(${c.name}) - MIN(${c.name})",
          None, havingOk = true, duckable = c.dataType != "FLOAT", numericPool(c))
      case 5 =>
        val c = pick(sv)
        AggPick(s"DISTINCTCOUNT(${c.name})", s"COUNT(DISTINCT ${c.name})",
          None, havingOk = true, duckable = true, Vector.empty)
      case 6 =>
        // same HLL estimator both sides (insertion-order-invariant
        // registers → deterministic equality); globally this checks the
        // codegen register plan's bit-identity claim, grouped it checks
        // the compile plumbing. Not DuckDB-valuable (different HLL).
        val c = pick(sv)
        AggPick(s"DISTINCTCOUNTHLL(${c.name})",
          s"approx_count_distinct(${c.name}, 0.065)",
          None, havingOk = false, duckable = false, Vector.empty)
      case 7 =>
        val c = pick(svNumeric)
        val p = 1 + rnd.nextInt(99)
        AggPick(s"PERCENTILE$p(${c.name})",
          s"percentile(${c.name}, ${p / 100.0})",
          None, havingOk = false, duckable = wholeValued(c), numericPool(c))
      case 8 =>
        val c = pick(svNarrow)
        val p = 1 + rnd.nextInt(99)
        val kind = if (rnd.nextBoolean()) "PERCENTILEEST" else "PERCENTILETDIGEST"
        val cast = if (kind == "PERCENTILEEST") "BIGINT" else "DOUBLE"
        AggPick(s"$kind$p(${c.name})",
          s"CAST(percentile_disc(${p / 100.0}) WITHIN GROUP (ORDER BY ${c.name}) AS $cast)",
          None, havingOk = false, duckable = false, Vector.empty)
      case 9 | 10 => // MV twins over the flat slots (plain-row twin)
        val c = pick(mvNumeric)
        val ss = slots(c.name)
        val cnt = ss.map(s => s"COUNT($s)").mkString(" + ")
        // per-slot CAST TO DOUBLE before adding: the engine feeds raw
        // elements into a double sum buffer, so the twin's per-row sum
        // must also accumulate in double — float additions would round
        // (observed 0.17 absolute drift on an 8000-row float SUMMV)
        val rowSum = ss.map(s => s"COALESCE(CAST($s AS DOUBLE), 0)").mkString(" + ")
        rnd.nextInt(6) match {
          case 0 => AggPick(s"COUNTMV(${c.name})", cnt, None,
            havingOk = false, duckable = true, Vector.empty)
          case 1 => AggPick(s"SUMMV(${c.name})",
            s"SUM(CAST($rowSum AS DOUBLE))", None,
            havingOk = false, duckable = true, Vector.empty)
          case 2 => AggPick(s"MINMV(${c.name})",
            s"MIN(LEAST(${ss.mkString(", ")}))", None,
            havingOk = false, duckable = true, Vector.empty)
          case 3 => AggPick(s"MAXMV(${c.name})",
            s"MAX(GREATEST(${ss.mkString(", ")}))", None,
            havingOk = false, duckable = true, Vector.empty)
          case 4 => AggPick(s"AVGMV(${c.name})",
            s"SUM(CAST($rowSum AS DOUBLE)) / NULLIF($cnt, 0)", None,
            havingOk = false, duckable = true, Vector.empty)
          case _ => AggPick(s"MINMAXRANGEMV(${c.name})",
            s"MAX(GREATEST(${ss.mkString(", ")})) - MIN(LEAST(${ss.mkString(", ")}))",
            None, havingOk = false, duckable = c.dataType != "FLOAT", Vector.empty)
        }
      case _ => // MV element-view twins
        rnd.nextInt(3) match {
          case 0 =>
            val c = pick(mv)
            AggPick(s"DISTINCTCOUNTMV(${c.name})", "COUNT(DISTINCT _v)",
              Some(c.name), havingOk = false, duckable = true, Vector.empty)
          case 1 =>
            val c = pick(mv)
            AggPick(s"DISTINCTCOUNTHLLMV(${c.name})",
              "approx_count_distinct(_v, 0.065)",
              Some(c.name), havingOk = false, duckable = false, Vector.empty)
          case _ =>
            val c = pick(mvNumeric)
            val p = 1 + rnd.nextInt(99)
            AggPick(s"PERCENTILE${p}MV(${c.name})",
              s"percentile(_v, ${p / 100.0})",
              Some(c.name), havingOk = false, duckable = wholeValued(c),
              Vector.empty)
        }
    }

    // ---- group-by keys -----------------------------------------------

    /** One group key: PQL expr + SQL twin expr; `mvKey` = Some((col,
      * inVals)) for the (at most one) multi-value key — inVals None
      * for a plain MV column, Some(values) for VALUEIN. */
    private final case class KeyPick(pql: String, sql: String,
        mvKey: Option[(String, Option[Seq[String]])])

    private def plainKey(): KeyPick = {
      val c = pick(sv)
      KeyPick(c.name, c.name, None)
    }

    private def transformKey(): KeyPick = rnd.nextInt(3) match {
      case 0 =>
        val (p, s) = timeConvertExpr(); KeyPick(p, s, None)
      case 1 =>
        val (p, s) = dateTimeConvertExpr(); KeyPick(p, s, None)
      case _ =>
        // DIV/ADD keys bucket numerics without ANSI risk
        val c = pick(svNumeric)
        if (rnd.nextBoolean()) {
          val k = 2 + rnd.nextInt(98)
          KeyPick(s"DIV(${c.name}, $k)", s"(${c.name} / $k)", None)
        } else {
          val b = pick(svNumeric)
          KeyPick(s"ADD(${c.name}, ${b.name})", s"(${c.name} + ${b.name})", None)
        }
    }

    private def mvKeyPick(): KeyPick = {
      val c = pick(mv)
      val vals = pool(c)
      if (vals.nonEmpty && rnd.nextBoolean()) {
        val in = drawDistinct(vals, 1 + rnd.nextInt(3))
        KeyPick(s"VALUEIN(${c.name}, ${in.mkString(", ")})", "_gm",
          Some((c.name, Some(in))))
      } else KeyPick(c.name, "_gm", Some((c.name, None)))
    }

    // ---- strategies ----------------------------------------------------

    private def selection(id: Int): GenLine = {
      val distinct = rnd.nextInt(4) == 0
      val nProj = 1 + rnd.nextInt(MaxSelectionCols)
      // (pqlExpr, sqlExprs) — an MV projection expands to its 5 slots
      // on the twin side (mode-A flattening); DISTINCT restricts to
      // scalar projections (distinct over flat slots ≠ distinct over
      // arrays when element order differs)
      val projPool: Vector[() => (String, Seq[String])] = {
        val base = Vector[() => (String, Seq[String])](
          () => { val c = pick(sv); (c.name, Seq(c.name)) },
          () => { val (p, s, _) = arithExpr(); (p, Seq(s)) },
          () => {
            val (p, s) = if (rnd.nextBoolean()) timeConvertExpr()
            else dateTimeConvertExpr()
            (p, Seq(s))
          })
        if (distinct) base
        else base :+ (() => { val c = pick(mv); (c.name, slots(c.name)) })
      }
      val projs = {
        val out = mutable.LinkedHashMap.empty[String, Seq[String]]
        var guard = 0
        while (out.size < nProj && guard < 100) {
          guard += 1
          val (p, s) = projPool(rnd.nextInt(projPool.size))()
          if (!out.contains(p)) out += p -> s
        }
        out.toVector
      }
      // DISTINCT suppresses ORDER BY: the analyzer cannot resolve a
      // sort column through Distinct unless it is projected, and the
      // comparator is containment-based anyway (duckSelection covers
      // the ordered-DISTINCT shape with projected sort columns)
      val ob =
        if (distinct) Vector.empty
        else drawDistinct(sv, rnd.nextInt(MaxOrderByCols + 1))
      val (pqlW, sqlW) = predGen.predicate()
      val limit = rnd.nextInt(MaxResultLimit + 1)
      // pagination (~25%): LIMIT offset,size — the one selection
      // surface neither grammar drew before. Sound under containment:
      // any page of the engine's ordering is a subset of the twin's
      // full row set, and the trim cap asserts on the page SIZE.
      val offset = if (rnd.nextInt(4) == 0) rnd.nextInt(20) else 0
      val limStr =
        if (limit == MaxResultLimit) ""
        else if (offset > 0) s"LIMIT $offset, $limit"
        else s"LIMIT $limit"
      val obStr = if (ob.isEmpty) "" else "ORDER BY " + ob.map(_.name).mkString(", ")
      val pql = join("SELECT", (if (distinct) "DISTINCT " else "") +
        projs.map(_._1).mkString(", "), "FROM mytable", pqlW, obStr, limStr)
      val sql = join("SELECT", (if (distinct) "DISTINCT " else "") +
        projs.flatMap(_._2).mkString(", "), "FROM mytable", sqlW, obStr,
        "LIMIT 10000")
      GenLine(OnTimeCorpus.Line(id, pql, Seq(sql)), duckAgg = false)
    }

    /** 5-branch element view over `mvCol` carrying aliased key
      * expressions (for union-twin aggregations under plain keys). */
    private def elementView(mvCol: String, keySqls: Seq[String],
        sqlW: String): String = {
      val branches = slots(mvCol).map { s =>
        val sel = keySqls.zipWithIndex.map { case (k, j) => s"$k AS _g$j" } :+
          s"$s AS _v"
        join("SELECT", sel.mkString(", "), "FROM mytable", sqlW)
      }
      "(" + branches.mkString(" UNION ALL ") + ") u"
    }

    /** 5-branch view over the MV KEY's slots, all base columns along
      * (for plain-twin aggregations under an MV group key). */
    private def mvKeyView(mvCol: String, sqlW: String): String = {
      val branches = slots(mvCol).map { s =>
        join(s"SELECT *, $s AS _gm", "FROM mytable", sqlW)
      }
      "(" + branches.mkString(" UNION ALL ") + ") u"
    }

    private def aggregation(id: Int): GenLine = {
      val nKeys = rnd.nextInt(MaxGroupByCols + 1)
      val withMvKey = nKeys > 0 && rnd.nextInt(5) == 0
      val keys: Vector[KeyPick] = {
        val out = mutable.LinkedHashMap.empty[String, KeyPick]
        if (withMvKey) { val k = mvKeyPick(); out += k.pql -> k }
        var guard = 0
        while (out.size < nKeys && guard < 100) {
          guard += 1
          val k = if (rnd.nextInt(4) == 0) transformKey() else plainKey()
          if (!out.contains(k.pql)) out += k.pql -> k
        }
        out.toVector.map(_._2)
      }
      val mvKey = keys.flatMap(_.mvKey).headOption
      val nAggs = rnd.nextInt(MaxAggs + 1)
      val picks: Vector[AggPick] = {
        if (nAggs == 0)
          Vector(AggPick("COUNT(*)", "COUNT(*)", None, havingOk = true,
            duckable = true, Vector.empty))
        else {
          val out = mutable.LinkedHashMap.empty[String, AggPick]
          var guard = 0
          while (out.size < nAggs && guard < 200) {
            guard += 1
            // under an MV group key, only plain-twin aggregations: the
            // key view already multiplies rows once per key element
            // (matching the engine's key explode — slot-expression MV
            // twins stay correct per copy), but a union-twin agg would
            // need the cartesian of key AND element expansions
            val p = aggPick()
            val ok = mvKey.isEmpty || p.unionMv.isEmpty
            if (ok && !out.contains(p.pql)) out += p.pql -> p
          }
          if (out.isEmpty) out += "COUNT(*)" -> AggPick("COUNT(*)", "COUNT(*)",
            None, havingOk = true, duckable = true, Vector.empty)
          out.toVector.map(_._2)
        }
      }
      val (pqlW, sqlW) = predGen.predicate()
      // HAVING: grouped lines only, and only when every pick is
      // plain-twin — a union-view hsql selects only keys and `_v`, so
      // a HAVING aggregate over base columns cannot resolve there (and
      // widening the view to `*` would double-count COUNT/SUM HAVINGs
      // across the 5 branches). References a selected aggregation
      // (70%) or a FRESH basic one — the hidden-aggregation path (30%)
      val having: Option[(String, String)] =
        if (keys.isEmpty || picks.exists(_.unionMv.isDefined) || rnd.nextInt(3) > 0) None
        else {
          val (hp, hs, tp) =
            picks.filter(_.havingOk) match {
              case cands if cands.nonEmpty && rnd.nextInt(10) < 7 =>
                val c = pick(cands); (c.pql, c.twin, c.thresholdPool)
              case _ =>
                val f = basicAgg(); (f.pql, f.twin, f.thresholdPool)
            }
          val op = pick(Vector(">", ">=", "<", "<=", "<>", "="))
          val v =
            if (tp.nonEmpty && rnd.nextBoolean()) pick(tp)
            else (1 + rnd.nextInt(500)).toString
          Some((s"HAVING $hp $op $v", s"HAVING $hs $op $v"))
        }
      val top = rnd.nextInt(MaxResultLimit + 1)
      val topStr = if (top == MaxResultLimit) "" else s"TOP $top"
      val gStr =
        if (keys.isEmpty) ""
        else "GROUP BY " + keys.map(_.pql).mkString(", ")
      val pql = join("SELECT", picks.map(_.pql).mkString(", "), "FROM mytable",
        pqlW, gStr, having.map(_._1).getOrElse(""), topStr)

      val hsqls: Seq[String] = picks.map { p =>
        (mvKey, p.unionMv) match {
          case (None, None) => // plain rows, plain keys
            val sel = (keys.map(_.sql) :+ p.twin).mkString(", ")
            join("SELECT", sel, "FROM mytable", sqlW,
              if (keys.isEmpty) "" else "GROUP BY " + keys.map(_.sql).mkString(", "),
              having.map(_._2).getOrElse(""), "LIMIT 10000")
          case (None, Some(mvc)) => // element view, aliased plain keys
            val aliased = keys.indices.map(j => s"_g$j")
            join("SELECT", (aliased :+ p.twin).mkString(", "),
              "FROM " + elementView(mvc, keys.map(_.sql), sqlW),
              if (keys.isEmpty) "" else "GROUP BY " + aliased.mkString(", "),
              having.map(_._2).getOrElse(""), "LIMIT 10000")
          case (Some((mvc, inVals)), None) => // MV-key view, plain agg
            val keyFilter = inVals match {
              case Some(vs) => s"WHERE _gm IN (${vs.mkString(", ")})"
              case None => "WHERE _gm IS NOT NULL"
            }
            join("SELECT", (keys.map(_.sql) :+ p.twin).mkString(", "),
              "FROM " + mvKeyView(mvc, sqlW), keyFilter,
              "GROUP BY " + keys.map(_.sql).mkString(", "),
              having.map(_._2).getOrElse(""), "LIMIT 10000")
          case (Some(_), Some(_)) =>
            throw new IllegalStateException("union agg under MV key is never generated")
        }
      }
      val duckAgg = keys.isEmpty && having.isEmpty && picks.forall(_.duckable)
      GenLine(OnTimeCorpus.Line(id, pql, hsqls), duckAgg)
    }

    def line(id: Int): GenLine =
      if (rnd.nextInt(10) < 3) selection(id) else aggregation(id)

    // ---- DuckDB-valued deterministic selections ------------------------

    /** A selection whose result SET is fully determined: DISTINCT over
      * INT/STRING scalar projections, totally ordered by every
      * projected column, LIMIT ≥ 1 — both engines must return the
      * identical row set (binary string collation both sides). Used by
      * the externally-valued duck-selection slice, NOT by the
      * containment comparator. */
    def duckSelection(id: Int): OnTimeCorpus.Line = {
      val candidates = sv.filter(c => c.dataType == "INT" || c.dataType == "STRING")
      val projs = drawDistinct(candidates, 1 + rnd.nextInt(MaxSelectionCols))
      val (pqlW, sqlW) = predGen.predicate()
      val limit = 1 + rnd.nextInt(MaxResultLimit - 1)
      val dirs = projs.map(_ => rnd.nextBoolean()) // per-column ASC/DESC
      val obStr = "ORDER BY " + projs.zip(dirs).map { case (c, asc) =>
        c.name + (if (asc) "" else " DESC")
      }.mkString(", ")
      val cs = projs.map(_.name).mkString(", ")
      val pql = join("SELECT DISTINCT", cs, "FROM mytable", pqlW, obStr,
        s"LIMIT $limit")
      val sql = join("SELECT DISTINCT", cs, "FROM mytable", sqlW, obStr,
        s"LIMIT $limit")
      OnTimeCorpus.Line(id, pql, Seq(sql))
    }
  }

  // ---- entry points -----------------------------------------------------

  def genLines(n: Int, seed: Long = DefaultSeed): Vector[GenLine] = {
    val g = new Generator(OnTimeCorpus.Columns, QueryGen.sqlTokenPools(), seed)
    (0 until n).map(g.line).toVector
  }

  def lines(n: Int, seed: Long = DefaultSeed): Vector[OnTimeCorpus.Line] =
    genLines(n, seed).map(_.line)

  /** The first `k` DuckDB-valuable aggregation-only mode-B lines out
    * of `n` — graft-surface aggregations (MV twins, MINMAXRANGE,
    * DISTINCTCOUNT, exact percentiles, transforms) valued by an
    * external engine. */
  def duckAggLines(k: Int, n: Int, seed: Long = DefaultSeed): Vector[OnTimeCorpus.Line] =
    genLines(n, seed).filter(_.duckAgg).map(_.line).take(k)

  // ---- externally-valued selection slice ---------------------------------

  /** `k` deterministic DISTINCT+ORDER-BY-all selections (see
    * [[Generator.duckSelection]]): the generated-query gate's
    * selection shapes valued BY DUCKDB, closing the "only aggregation
    * lines are externally valued" gap. */
  def duckSelLines(k: Int, seed: Long = DefaultSeed): Vector[OnTimeCorpus.Line] = {
    val g = new Generator(OnTimeCorpus.Columns, QueryGen.sqlTokenPools(), seed)
    (0 until k).map(g.duckSelection).toVector
  }
}
