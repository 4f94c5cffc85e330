package graft.pql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import graft.functions.DateTimeOps
import graft.sources.Tables

/** PQL front-end: the reference's query language
  * (`pinot-common/.../pql/parsers/Pql2Compiler.java:78-110`, grammar
  * `PQL2.g4:21-115`, examples `docs/pql_examples.rst`) compiled to
  * DataFrame plans.
  *
  * Supported subset (the whole documented PQL surface):
  *  - `SELECT *|exprs|aggs FROM table` (backtick-quoted identifiers OK)
  *  - `WHERE` with `= <> != < <= > >=`, `BETWEEN`, `[NOT] IN`,
  *    `IS [NOT] NULL`, `REGEXP_LIKE(col, 're')`, parenthesised
  *    `AND`/`OR` trees
  *  - `OPTION(k=v, ...)` — parsed onto the AST, execution-advisory
  *  - `GROUP BY exprs TOP n` (+ `HAVING` over aggregation functions)
  *  - `ORDER BY col [ASC|DESC], ... LIMIT [offset,] size` (selection)
  *  - aggregations COUNT/MIN/MAX/SUM/AVG/MINMAXRANGE/DISTINCTCOUNT/
  *    DISTINCTCOUNTHLL/PERCENTILE\d+/PERCENTILEEST\d+ (+ `*` for COUNT)
  *    and their MV twins (COUNTMV..DISTINCTCOUNTHLLMV, PERCENTILE\d+MV):
  *    every element of the array column feeds the aggregation buffer,
  *    computed as explode_outer sub-aggregations joined back on the
  *    group keys so single-value aggregations in the same query still
  *    see one row per entry
  *  - transform functions ADD/SUB/MULT/DIV, TIMECONVERT,
  *    DATETIMECONVERT (`TransformFunctionFactory.java:43-50`)
  *
  * Semantics notes (documented divergences, all deterministic):
  *  - PQL has no aliases; output columns are named
  *    `<fn>_<sanitized-args>` (`count_star`, `sum_l_quantity`), and
  *    grouping keys always appear in the result (pql_examples.rst:
  *    "Grouping keys always appear in query results");
  *  - `GROUP BY ... TOP n` orders groups by the FIRST aggregation
  *    descending (group keys ascending as tiebreak — the reference
  *    trims per-aggregation and documents tie instability; we are
  *    deterministic), default TOP 10; `TOP n` on a group-less
  *    aggregation parses and is ignored, matching the reference broker
  *    (the 10K golden corpus carries 1,236 such queries);
  *  - selection without LIMIT defaults to LIMIT 10 (the reference's
  *    selection default);
  *  - `ORDER BY` is selection-only, as in PQL ("ORDER BY only works
  *    for selection queries").
  */
object Pql {

  // ---- AST -------------------------------------------------------------

  sealed trait Expr
  final case class Ident(name: String) extends Expr
  final case class NumLit(v: BigDecimal) extends Expr
  final case class StrLit(v: String) extends Expr
  final case class Func(name: String, args: Seq[Expr]) extends Expr
  case object Star extends Expr

  sealed trait Pred
  final case class Cmp(e: Expr, op: String, v: Expr) extends Pred
  final case class Between(e: Expr, lo: Expr, hi: Expr) extends Pred
  final case class In(e: Expr, vals: Seq[Expr], negated: Boolean) extends Pred
  final case class IsNull(e: Expr, negated: Boolean) extends Pred
  final case class RegexpLike(e: Expr, pattern: String) extends Pred
  final case class AndP(ps: Seq[Pred]) extends Pred
  final case class OrP(ps: Seq[Pred]) extends Pred

  final case class Query(
      select: Seq[Expr],
      table: String,
      where: Option[Pred],
      groupBy: Seq[Expr],
      top: Option[Int],
      having: Option[Pred],
      orderBy: Seq[(String, Boolean)], // (column, ascending)
      limit: Option[(Int, Int)],       // (offset, size)
      distinct: Boolean = false,
      options: Map[String, String] = Map.empty) // OPTION(k=v,...) — parsed, advisory

  // ---- lexer -----------------------------------------------------------

  private final case class Tok(kind: String, s: String) {
    def is(k: String, v: String): Boolean = kind == k && s.equalsIgnoreCase(v)
  }

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (q.charAt(i) == '\'') {
            if (i + 1 < n && q.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
            else { closed = true; i += 1 }
          } else { sb.append(q.charAt(i)); i += 1 }
        }
        if (!closed) throw new IllegalArgumentException(s"unterminated string at offset $i")
        out += Tok("STR", sb.toString)
      }
      else if (c.isDigit || (c == '.' && i + 1 < n && q.charAt(i + 1).isDigit)) {
        val start = i
        var dots = 0
        while (i < n && (q.charAt(i).isDigit || q.charAt(i) == '.')) {
          if (q.charAt(i) == '.') dots += 1
          i += 1
        }
        val s = q.substring(start, i)
        if (dots > 1) throw new IllegalArgumentException(
          s"malformed number '$s' at offset $start (more than one decimal point)")
        out += Tok("NUM", s)
      }
      else if (c == '`') {
        // backtick-quoted identifier (PQL2.g4 IDENTIFIER alt 2): any
        // chars up to the closing backtick, quote not part of the name
        val end = q.indexOf('`', i + 1)
        if (end < 0) throw new IllegalArgumentException(s"unterminated backtick identifier at offset $i")
        out += Tok("IDENT", q.substring(i + 1, end))
        i = end + 1
      }
      else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i += 1
        out += Tok("IDENT", q.substring(start, i))
      }
      else if (c == '<' && i + 1 < n && (q.charAt(i + 1) == '=' || q.charAt(i + 1) == '>')) {
        out += Tok("SYM", q.substring(i, i + 2)); i += 2
      }
      else if (c == '>' && i + 1 < n && q.charAt(i + 1) == '=') { out += Tok("SYM", ">="); i += 2 }
      else if (c == '!' && i + 1 < n && q.charAt(i + 1) == '=') { out += Tok("SYM", "!="); i += 2 }
      else if ("(),*=<>-+".indexOf(c) >= 0) { out += Tok("SYM", c.toString); i += 1 }
      else throw new IllegalArgumentException(s"unexpected character '$c' at offset $i")
    }
    out.result()
  }

  // ---- parser (recursive descent over the token vector) ----------------

  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    def assertConsumed(): Unit =
      if (pos < toks.length)
        throw new IllegalArgumentException(s"trailing tokens from '${toks(pos).s}'")
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = {
      val t = peek.getOrElse(throw new IllegalArgumentException("unexpected end of query"))
      pos += 1; t
    }
    private def expectKw(kw: String): Unit = {
      val t = next()
      if (!t.is("IDENT", kw)) throw new IllegalArgumentException(s"expected $kw, got '${t.s}'")
    }
    private def expectSym(s: String): Unit = {
      val t = next()
      if (!(t.kind == "SYM" && t.s == s)) throw new IllegalArgumentException(s"expected '$s', got '${t.s}'")
    }
    private def atKw(kw: String): Boolean = peek.exists(_.is("IDENT", kw))
    private def atSym(s: String): Boolean = peek.exists(t => t.kind == "SYM" && t.s == s)

    def query(): Query = {
      expectKw("SELECT")
      val distinct = atKw("DISTINCT")
      if (distinct) next()
      val sel = exprList()
      expectKw("FROM")
      val table = next() match {
        case Tok("IDENT", t) => t
        case t => throw new IllegalArgumentException(s"expected table name, got '${t.s}'")
      }
      var where: Option[Pred] = None
      var groupBy: Seq[Expr] = Nil
      var top: Option[Int] = None
      var having: Option[Pred] = None
      var orderBy: Seq[(String, Boolean)] = Nil
      var limit: Option[(Int, Int)] = None
      var options: Map[String, String] = Map.empty
      while (peek.isDefined) {
        if (atKw("WHERE")) { next(); where = Some(orPred()) }
        else if (atKw("GROUP")) {
          next(); expectKw("BY"); groupBy = exprList()
        }
        else if (atKw("TOP")) { next(); top = Some(int()) }
        else if (atKw("HAVING")) { next(); having = Some(orPred()) }
        else if (atKw("ORDER")) {
          next(); expectKw("BY")
          val items = Vector.newBuilder[(String, Boolean)]
          var more = true
          while (more) {
            val name = next() match {
              case Tok("IDENT", s) => s
              case t => throw new IllegalArgumentException(s"expected order column, got '${t.s}'")
            }
            var asc = true
            if (atKw("ASC")) next()
            else if (atKw("DESC")) { next(); asc = false }
            items += ((name, asc))
            if (atSym(",")) next() else more = false
          }
          orderBy = items.result()
        }
        else if (atKw("LIMIT")) {
          next()
          val a = int()
          if (atSym(",")) { next(); limit = Some((a, int())) }
          else limit = Some((0, a))
        }
        else if (atKw("OPTION")) {
          // OPTION(key=value, ...) — PQL2.g4 `optionList`. Query hints
          // (e.g. preserveType, responseFormat); parsed and carried on
          // the AST, execution-advisory only (the reference broker also
          // treats unknown options as no-ops).
          next(); expectSym("(")
          var more = !atSym(")")
          while (more) {
            val k = next() match {
              case Tok("IDENT", s) => s
              case t => throw new IllegalArgumentException(s"expected option key, got '${t.s}'")
            }
            expectSym("=")
            val v = next() match {
              case Tok("IDENT" | "NUM" | "STR", s) => s
              case t => throw new IllegalArgumentException(s"expected option value, got '${t.s}'")
            }
            options += (k -> v)
            if (atSym(",")) next() else more = false
          }
          expectSym(")")
        }
        else throw new IllegalArgumentException(s"unexpected token '${peek.get.s}'")
      }
      Query(sel, table, where, groupBy, top, having, orderBy, limit, distinct, options)
    }

    private def int(): Int = next() match {
      case Tok("NUM", s) if !s.contains('.') => s.toInt
      case t => throw new IllegalArgumentException(s"expected integer, got '${t.s}'")
    }

    private def exprList(): Seq[Expr] = {
      val items = Vector.newBuilder[Expr]
      var more = true
      while (more) {
        items += expr()
        if (atSym(",")) next() else more = false
      }
      items.result()
    }

    def expr(): Expr = next() match {
      case Tok("SYM", "*") => Star
      case Tok("NUM", s) => NumLit(BigDecimal(s))
      case Tok("STR", s) => StrLit(s)
      case Tok("SYM", "-") => next() match {
        case Tok("NUM", s) => NumLit(BigDecimal(s).unary_-)
        case t => throw new IllegalArgumentException(s"expected number after '-', got '${t.s}'")
      }
      case Tok("IDENT", name) if atSym("(") =>
        next() // (
        if (atSym("*")) { next(); expectSym(")"); Func(name.toLowerCase, Seq(Star)) }
        else {
          val args = Vector.newBuilder[Expr]
          if (!atSym(")")) {
            var more = true
            while (more) {
              args += expr()
              if (atSym(",")) next() else more = false
            }
          }
          expectSym(")")
          Func(name.toLowerCase, args.result())
        }
      case Tok("IDENT", name) => Ident(name)
      case t => throw new IllegalArgumentException(s"unexpected token '${t.s}' in expression")
    }

    // standard precedence: OR < AND < comparison; parens recurse
    def orPred(): Pred = {
      val ps = Vector.newBuilder[Pred]
      ps += andPred()
      while (atKw("OR")) { next(); ps += andPred() }
      val v = ps.result()
      if (v.length == 1) v.head else OrP(v)
    }

    private def andPred(): Pred = {
      val ps = Vector.newBuilder[Pred]
      ps += unaryPred()
      while (atKw("AND")) { next(); ps += unaryPred() }
      val v = ps.result()
      if (v.length == 1) v.head else AndP(v)
    }

    private def unaryPred(): Pred = {
      if (atSym("(")) { next(); val p = orPred(); expectSym(")"); return p }
      if (atKw("REGEXP_LIKE")) {
        next(); expectSym("(")
        val e = expr()
        expectSym(",")
        val pat = next() match {
          case Tok("STR", s) => s
          case t => throw new IllegalArgumentException(s"expected pattern string, got '${t.s}'")
        }
        expectSym(")")
        return RegexpLike(e, pat)
      }
      val e = expr()
      if (atKw("BETWEEN")) {
        next(); val lo = expr(); expectKw("AND"); val hi = expr()
        Between(e, lo, hi)
      } else if (atKw("IS")) {
        // IS [NOT] NULL — the reference PQL parses-but-ignores this
        // (FilterQueryTree drops it); we evaluate it properly, which
        // SURVEY §2.2 documents as the intended superset behavior.
        next()
        val negated = atKw("NOT")
        if (negated) next()
        expectKw("NULL")
        IsNull(e, negated)
      } else if (atKw("NOT")) {
        next(); expectKw("IN"); In(e, inList(), negated = true)
      } else if (atKw("IN")) {
        next(); In(e, inList(), negated = false)
      } else {
        val op = next() match {
          case Tok("SYM", s @ ("=" | "<>" | "!=" | "<" | "<=" | ">" | ">=")) => s
          case t => throw new IllegalArgumentException(s"expected comparison operator, got '${t.s}'")
        }
        Cmp(e, op, expr())
      }
    }

    private def inList(): Seq[Expr] = {
      expectSym("(")
      val items = Vector.newBuilder[Expr]
      var more = true
      while (more) {
        items += expr()
        if (atSym(",")) next() else more = false
      }
      expectSym(")")
      items.result()
    }
  }

  def parse(query: String): Query = new P(lex(query)).query()

  /** Aggregation query (aggregationResults response shape) vs
    * selection query (selectionResults shape) — the broker's routing
    * distinction (`BrokerResponseNative`). */
  def isAggregationQuery(q: Query): Boolean =
    q.groupBy.nonEmpty || q.select.exists(isAgg)

  /** Whether a select-list expression is an aggregation function —
    * public for harnesses that mirror the broker's per-aggregation
    * result layout (one hsql per aggregation in the golden corpus). */
  def isAggExpr(e: Expr): Boolean = isAgg(e)

  // ---- translation to DataFrame ----------------------------------------

  private val AggNames = Set("count", "min", "max", "sum", "avg",
    "minmaxrange", "distinctcount", "distinctcounthll", "fasthll")
  private val PercentileRe = "^(percentile|percentileest|percentiletdigest)(\\d{1,3})$".r
  // the MV twins (AggregationFunctionFactory.java COUNTMV..DISTINCTCOUNTHLLMV,
  // PERCENTILE\d+MV / EST / TDIGEST): same function over every element
  // of the array column instead of the scalar cell
  private val MvAggRe = "^(count|min|max|sum|avg|minmaxrange|distinctcount|distinctcounthll)mv$".r
  private val PercentileMvRe = "^(percentile|percentileest|percentiletdigest)(\\d{1,3})mv$".r

  private def isMvAgg(e: Expr): Boolean = e match {
    case Func(n, _) =>
      MvAggRe.findFirstIn(n).isDefined || PercentileMvRe.findFirstIn(n).isDefined
    case _ => false
  }

  private def isAgg(e: Expr): Boolean = e match {
    case Func(n, _) => AggNames.contains(n) || PercentileRe.findFirstIn(n).isDefined ||
      isMvAgg(e)
    case _ => false
  }

  /** Output-column name: PQL has no aliases, so mirror the reference's
    * `<function>_<column>` result naming (BrokerResponse column keys). */
  private def nameOf(e: Expr): String = e match {
    case Ident(n) => n
    case Star => "star"
    case NumLit(v) => v.toString.replace('.', '_').replace("-", "neg")
    case StrLit(v) => v.toLowerCase.replaceAll("[^a-z0-9]", "_")
    case Func(n, args) => (n +: args.map(nameOf)).mkString("_")
  }

  /** Non-aggregate scalar expression → Column. */
  private def scalar(e: Expr): Column = e match {
    case Ident(n) => col(n)
    case NumLit(v) => if (v.isWhole) lit(v.toLongExact) else lit(v.toDouble)
    case StrLit(v) => lit(v)
    case Star => throw new IllegalArgumentException("* is only valid in COUNT(*) or SELECT *")
    case Func(name, args) => (name, args) match {
      case ("add", Seq(a, b)) => scalar(a) + scalar(b)
      case ("sub", Seq(a, b)) => scalar(a) - scalar(b)
      case ("mult", Seq(a, b)) => scalar(a) * scalar(b)
      case ("div", Seq(a, b)) => scalar(a) / scalar(b)
      // VALUEIN(mvCol, v1, v2, ...) — keeps the MV entries that appear
      // in the literal list, duplicates retained in array order
      // (ValueInTransformFunction.java filters values by dictionary-id
      // membership while iterating the entry, so repeats survive);
      // array_intersect would dedup and is therefore wrong here
      case ("valuein", a +: rest) if rest.nonEmpty =>
        filter(scalar(a), e => e.isin(rest.map(scalar): _*))
      case ("timeconvert", Seq(c, StrLit(from), StrLit(to))) =>
        DateTimeOps.timeConvert(scalar(c), from, to)
      case ("datetimeconvert", Seq(c, StrLit(in), StrLit(out), StrLit(gran))) =>
        DateTimeOps.dateTimeConvert(scalar(c), in, out, gran)
      case _ => PqlFunctions.lookup(name, args.length) match {
        case Some(impl) => impl(args.map(scalar))
        case None => throw new IllegalArgumentException(
          s"unsupported transform function '$name'/${args.length}")
      }
    }
  }

  /** Aggregation function → Column (unnamed). DISTINCTCOUNTHLL is
    * HLL++ at rsd 0.065; the optimizer rules pick its plan
    * ([[graft.plans.StarTreeRoutingRule]] answers it from a tree's
    * stored sketches, [[graft.plans.HllRegisterRule]] from the register
    * plan). */
  private def aggColumn(e: Expr): Column = e match {
    case Func("count", Seq(Star)) => count(lit(1))
    case Func("count", Seq(a)) => count(scalar(a))
    case Func("min", Seq(a)) => min(scalar(a))
    case Func("max", Seq(a)) => max(scalar(a))
    case Func("sum", Seq(a)) => sum(scalar(a))
    case Func("avg", Seq(a)) => avg(scalar(a))
    case Func("minmaxrange", Seq(a)) => max(scalar(a)) - min(scalar(a))
    case Func("distinctcount", Seq(a)) => countDistinct(scalar(a))
    case Func("distinctcounthll", Seq(a)) => approx_count_distinct(scalar(a), 0.065)
    // FASTHLL (FastHLLAggregationFunction.java): aggregates a column
    // that ALREADY holds serialized per-row/per-group HLL sketches
    // (the ingest-derived metric) by unioning them — only sketch bytes
    // cross the shuffle, never raw values
    case Func("fasthll", Seq(a)) =>
      hll_sketch_estimate(hll_union_agg(scalar(a)))
    case Func(PercentileRe(kind, pct), Seq(a)) =>
      val q = percentileFraction(pct)
      if (kind == "percentile") percentile(scalar(a), lit(q))
      else estResult(kind, percentile_approx(scalar(a), lit(q), lit(EstAccuracy)))
    case _ => throw new IllegalArgumentException(s"not an aggregation: $e")
  }

  /** Result domain of the approximate percentile flavors, applied on
    * every path (sketch, fused sketch, exact histogram, MV twins):
    * PERCENTILEEST returns LONG — the reference's QuantileDigest
    * consumes and returns longs regardless of the input column type
    * (`PercentileEstAggregationFunction.java`) — while
    * PERCENTILETDIGEST returns DOUBLE (`com.tdunning` digests hold
    * doubles, `PercentileTDigestAggregationFunction`). */
  private def estResult(kind: String, c: Column): Column =
    if (kind == "percentileest") c.cast("long") else c.cast("double")

  /** PERCENTILEEST/PERCENTILETDIGEST sketch accuracy (rank error =
    * 1/accuracy). The reference's QuantileDigest runs at 5% max rank
    * error (`PercentileEstAggregationFunction` DEFAULT_MAX_ERROR) —
    * 0.1% here is 50× tighter and, measured at 10M rows, ~10× cheaper
    * than Spark's 10000 default (sketch compress + final merge scale
    * with summary size, which scales with accuracy). */
  val EstAccuracy = 1000

  private def percentileFraction(pct: String): Double = {
    val p = pct.toInt
    require(p >= 0 && p <= 100, s"percentile must be in 0..100, got $p")
    p / 100.0
  }

  /** MV aggregation function → Column over the exploded element
    * (`elem`). Mirrors the reference's `*MVAggregationFunction`s:
    * each one feeds EVERY element of the array column into the same
    * value buffer its single-value twin uses, so explode + the SV
    * aggregate is the exact semantics. */
  private def mvAggColumn(e: Expr, elem: Column): Column = e match {
    case Func(MvAggRe(base), Seq(_)) => base match {
      case "count" => count(elem)
      case "min" => min(elem)
      case "max" => max(elem)
      case "sum" => sum(elem)
      case "avg" => avg(elem)
      case "minmaxrange" => max(elem) - min(elem)
      case "distinctcount" => countDistinct(elem)
      case "distinctcounthll" => approx_count_distinct(elem, 0.065)
    }
    case Func(PercentileMvRe(kind, pct), Seq(_)) =>
      val q = percentileFraction(pct)
      if (kind == "percentile") percentile(elem, lit(q))
      else estResult(kind, percentile_approx(elem, lit(q), lit(EstAccuracy)))
    case _ => throw new IllegalArgumentException(s"not an MV aggregation: $e")
  }

  /** Apply a scalar predicate builder to `e`, with the reference's
    * multi-value semantics when `e` is an ArrayType column: an MV
    * predicate matches a row if ANY element satisfies it (Pinot
    * evaluates MV predicates against every value of the entry —
    * the MV paths in `operator/filter/predicate`). NOT IN follows the
    * same any-element rule (some element outside the list). */
  private def mvAware(schema: StructType, e: Expr)(build: Column => Column): Column =
    e match {
      case Ident(n) if schema.fields.exists(f =>
          f.name.equalsIgnoreCase(n) && f.dataType.isInstanceOf[ArrayType]) =>
        exists(col(n), build)
      case _ => build(scalar(e))
    }

  private def predicate(p: Pred, schema: StructType): Column = p match {
    case Cmp(e, "=", v) => mvAware(schema, e)(_ === scalar(v))
    case Cmp(e, "<>" | "!=", v) => mvAware(schema, e)(_ =!= scalar(v))
    case Cmp(e, "<", v) => mvAware(schema, e)(_ < scalar(v))
    case Cmp(e, "<=", v) => mvAware(schema, e)(_ <= scalar(v))
    case Cmp(e, ">", v) => mvAware(schema, e)(_ > scalar(v))
    case Cmp(e, ">=", v) => mvAware(schema, e)(_ >= scalar(v))
    case Cmp(_, op, _) => throw new IllegalArgumentException(s"bad operator $op")
    case Between(e, lo, hi) => mvAware(schema, e)(_.between(scalar(lo), scalar(hi)))
    case In(e, vals, negated) =>
      val lits = vals.map {
        case NumLit(v) => if (v.isWhole) v.toLongExact else v.toDouble: Any
        case StrLit(s) => s: Any
        case other => throw new IllegalArgumentException(s"IN list must be literals, got $other")
      }
      if (negated) mvAware(schema, e)(x => !x.isin(lits: _*))
      else mvAware(schema, e)(_.isin(lits: _*))
    case RegexpLike(e, pat) => mvAware(schema, e)(_.rlike(pat))
    // null-ness is a property of the entry, not its elements — bypass
    // the MV any-element rule. An MV cell with NO values satisfies
    // IS NULL whether it is stored as SQL null or as an empty array
    // (the reference stores MV cells as value lists; no values = no
    // cell), so ArrayType columns also test size() == 0.
    case IsNull(e, negated) =>
      val isNullCol = e match {
        case Ident(n) if schema.fields.exists(f =>
            f.name.equalsIgnoreCase(n) && f.dataType.isInstanceOf[ArrayType]) =>
          scalar(e).isNull || size(scalar(e)) === 0
        case _ => scalar(e).isNull
      }
      if (negated) !isNullCol else isNullCol
    case AndP(ps) => ps.map(predicate(_, schema)).reduce(_ && _)
    case OrP(ps) => ps.map(predicate(_, schema)).reduce(_ || _)
  }

  /** HAVING predicate over aggregation functions: resolve each agg
    * expression to its result column (by PQL name), relying on the
    * caller to have computed it (hidden if not selected). */
  private def havingPredicate(p: Pred, aggNames: Map[String, String]): Column = {
    def resolve(e: Expr): Column =
      if (isAgg(e)) col(aggNames(nameOf(e))) else scalar(e)
    p match {
      case Cmp(e, "=", v) => resolve(e) === scalar(v)
      case Cmp(e, "<>" | "!=", v) => resolve(e) =!= scalar(v)
      case Cmp(e, "<", v) => resolve(e) < scalar(v)
      case Cmp(e, "<=", v) => resolve(e) <= scalar(v)
      case Cmp(e, ">", v) => resolve(e) > scalar(v)
      case Cmp(e, ">=", v) => resolve(e) >= scalar(v)
      case Cmp(_, op, _) => throw new IllegalArgumentException(s"bad operator $op")
      case Between(e, lo, hi) => resolve(e).between(scalar(lo), scalar(hi))
      case AndP(ps) => ps.map(havingPredicate(_, aggNames)).reduce(_ && _)
      case OrP(ps) => ps.map(havingPredicate(_, aggNames)).reduce(_ || _)
      case other => throw new IllegalArgumentException(s"unsupported HAVING predicate: $other")
    }
  }

  private def collectAggs(p: Pred): Seq[Expr] = p match {
    case Cmp(e, _, _) if isAgg(e) => Seq(e)
    case Between(e, _, _) if isAgg(e) => Seq(e)
    case AndP(ps) => ps.flatMap(collectAggs)
    case OrP(ps) => ps.flatMap(collectAggs)
    case _ => Nil
  }

  /** Compile a parsed query against a table resolver. */
  def toDataFrame(q: Query, resolve: String => DataFrame): DataFrame = {
    val base = resolve(q.table)
    val filtered = q.where.map(w => base.filter(predicate(w, base.schema))).getOrElse(base)
    val selAggs = q.select.filter(isAgg)

    if (selAggs.nonEmpty || q.groupBy.nonEmpty) {
      // ---- aggregation mode ----
      // validations FIRST: whether a query is legal PQL must not
      // depend on whether its table happens to be a bare parquet scan
      // (the metadata fast path below would otherwise accept e.g.
      // COUNT(*) ... ORDER BY that the ordinary path rejects)
      require(q.orderBy.isEmpty,
        "ORDER BY only works for selection queries; use GROUP BY ... TOP n (pql_examples.rst)")
      require(!q.distinct,
        "SELECT DISTINCT is a selection query; use DISTINCTCOUNT for aggregations")
      // Filterless group-by-less COUNT(*) answers from segment
      // metadata when the table is a bare parquet scan — the
      // MetadataBasedAggregationOperator plan
      // (InstancePlanMakerImplV2.java:148-169; numDocsScanned = 0).
      // Footer row counts are exact; any filter/transform/view falls
      // through to the ordinary aggregation below.
      val metaCount: Option[DataFrame] =
        if (q.where.isEmpty && q.groupBy.isEmpty &&
            q.having.isEmpty && q.select == Seq(Func("count", Seq(Star))))
          graft.sources.Tables.metadataRowCount(base).map { n =>
            import org.apache.spark.sql.types.{LongType, StructField, StructType}
            base.sparkSession.createDataFrame(
              java.util.Collections.singletonList(
                org.apache.spark.sql.Row(n): org.apache.spark.sql.Row),
              StructType(Seq(StructField("count_star", LongType, nullable = false))))
          }
        else None
      if (metaCount.isDefined) return metaCount.get
      val nonAgg = q.select.filterNot(isAgg).filterNot(_ == Star)
      require(nonAgg.forall(e => q.groupBy.map(nameOf).contains(nameOf(e))),
        s"non-aggregate select columns must appear in GROUP BY: ${nonAgg.map(nameOf)}")
      // TOP ordering needs a selected aggregation; an agg hidden in
      // HAVING alone used to reach selAggs.head and crash — reject
      // with the parser-error contract the fuzz test asserts.
      require(q.groupBy.isEmpty || selAggs.nonEmpty,
        "group-by queries must select at least one aggregation function")
      // Pinot MV group-by: one group entry per array element (multiple
      // MV keys → cartesian of elements per row) — explode each MV key.
      // A bare array Ident explodes under a RESERVED name (`_gk_<col>`,
      // aliased back to the column name in the group columns) so the
      // array column itself stays addressable: an MV AGGREGATION over
      // the same (or another) array column must still see the full
      // entry — the reference's group executor feeds the row's whole
      // MV value buffer into every group the row lands in, so
      // `SELECT SUMMV(X) ... GROUP BY X` aggregates ALL of a row's
      // elements into each of its element-groups (replacing the array
      // in place used to make that query unresolvable). A VALUEIN(...)
      // transform over an array column explodes its (filtered) result
      // under the PQL output name, so GROUP BY VALUEIN(mv, ...) groups
      // by each retained element (ValueInTransformFunction feeding the
      // MV group-by executor).
      def isArrayCol(n: String): Boolean = filtered.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(n) && f.dataType.isInstanceOf[ArrayType])
      // (output key name, reserved exploded name, exploded column)
      val mvExpanded: Seq[(String, String, Column)] = q.groupBy.collect {
        case Ident(n) if isArrayCol(n) => (n, s"_gk_$n", explode(col(n)))
        case e @ Func("valuein", Ident(n) +: rest) if rest.nonEmpty && isArrayCol(n) =>
          (nameOf(e), s"_gk_${nameOf(e)}", explode(scalar(e)))
      }
      val grouped = mvExpanded.foldLeft(filtered)((d, kv) => d.withColumn(kv._2, kv._3))
      val expandedNames = mvExpanded.map { case (nm, res, _) => nm -> res }.toMap
      val groupCols = q.groupBy.map { e =>
        val nm = nameOf(e)
        expandedNames.get(nm) match {
          case Some(reserved) => col(reserved).as(nm)
          case None => scalar(e).as(nm)
        }
      }
      val keyNames = q.groupBy.map(nameOf)
      val havingAggs = q.having.map(collectAggs).getOrElse(Nil)
        .filterNot(e => selAggs.map(nameOf).contains(nameOf(e)))
      val hiddenNames = havingAggs.map(e => nameOf(e) -> s"_h_${nameOf(e)}").toMap
      // SV aggregations compute in the main aggregation; MV twins
      // compute in explode_outer sub-aggregations joined back on the
      // group keys — each MV function feeds EVERY element of its array
      // argument into the same buffer its SV twin uses, while SV
      // aggregations in the same query still see one row per entry
      // (the reference's per-aggregation value-buffer independence,
      // `*MVAggregationFunction`).
      def rawValues(n: String): Boolean = filtered.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(n) && f.dataType != BinaryType)
      val named: Seq[(Expr, String)] =
        (selAggs.map(e => e -> nameOf(e)) ++
          havingAggs.map(e => e -> hiddenNames(nameOf(e)))).map {
          // FASTHLL over raw values, not serialized sketches, is a
          // distinct count: the same HLL++ aggregate as DISTINCTCOUNTHLL
          case (Func("fasthll", Seq(a @ Ident(n))), nm) if rawValues(n) =>
            Func("distinctcounthll", Seq(a)) -> nm
          case other => other
        }
      val (mvNamed, svNamed) = named.partition { case (e, _) => isMvAgg(e) }
      require(named.nonEmpty, "aggregation query needs at least one aggregation function")
      def mvArgOf(e: Expr): Expr = e match {
        case Func(_, Seq(a)) => a
        case other => throw new IllegalArgumentException(
          s"MV aggregation takes exactly one array argument: $other")
      }
      // PERCENTILE*/PERCENTILEEST*/PERCENTILETDIGEST* over a NARROW
      // INTEGRAL plain column route to the exact distributed value
      // histogram (operators.Percentiles.histogramAggs): the
      // distinct-(key, value) pair count is bounded by the value
      // range, so one map-side-combined shuffle + one window pass
      // answers EVERY requested fraction exactly — measured 3-4×
      // faster than the per-row sketch build at 100M rows, and
      // spill-safe where `percentile()`'s per-group value map is not.
      // Faithful, not just allowed: the reference's PERCENTILEEST
      // QuantileDigest consumes and returns LONGs
      // (PercentileEstAggregationFunction.java), so an exact
      // nearest-rank long answer has rank error 0 against its ≤5%
      // contract. LongType/fractional columns (unbounded distinct
      // counts) stay on the percentile_approx sketch path.
      val histArg: ((Expr, String)) => Option[String] = {
        case (Func(PercentileRe(_, _), Seq(Ident(n))), _) =>
          filtered.schema.fields.find(_.name.equalsIgnoreCase(n)).collect {
            case f if f.dataType == ByteType || f.dataType == ShortType ||
                f.dataType == IntegerType => f.name
          }
        case _ => None
      }
      val (histNamed, nonHistNamed) = svNamed.partition(p => histArg(p).isDefined)
      // Exact PERCENTILE over a WIDE numeric plain column (long/float/
      // double/decimal — unbounded distinct counts, where the value
      // histogram degenerates to the data itself) routes through
      // rank-narrowing selection: distributed quickselect, ~3 counting
      // scans, no full-width shuffle ever. GLOBAL: measured 0.51×
      // DuckDB at 100M rows vs ~25 s for the buffer `percentile()`
      // this used to compile to. GROUPED (r9): the group key folds
      // into the cell identity (Percentiles.rankSelectKeyed) so all
      // groups narrow in the SAME scans — probed 8.4 s vs 38.5 s for
      // the grouped histogram at 100M rows × 2 groups; past 64 groups
      // rankSelectKeyed itself falls back to that histogram (many
      // groups bound the per-group distinct set — g1's 1.76× regime).
      // Narrow integral columns keep the direct histogram (above);
      // EST/TDIGEST keep the sketch (already sub-second). The route is
      // EAGER — passes run here at compile time and yield a local
      // ≤G-row frame, absorbed by the aggregation join contract (a
      // crossJoin when global, a broadcast key-join when grouped); the
      // reference itself executes at submit
      // (PercentileAggregationFunction.java:21-50 — collect-all-values
      // exact contract, same answer).
      val rankArg: ((Expr, String)) => Option[String] = {
        case (Func(PercentileRe("percentile", _), Seq(Ident(n))), _) =>
          filtered.schema.fields.find(_.name.equalsIgnoreCase(n)).collect {
            case f if f.dataType == LongType || f.dataType == FloatType ||
                f.dataType == DoubleType || f.dataType.isInstanceOf[DecimalType] =>
              f.name
          }
        case _ => None
      }
      val (rankNamed, nonRankNamed) = nonHistNamed.partition(p => rankArg(p).isDefined)
      // GLOBAL DISTINCTCOUNTHLL over a plain column is its own 1-row
      // frame: a lone global approx_count_distinct, which the optimizer
      // rules answer from a star-tree's stored sketch or the codegen
      // register plan. Grouped queries keep approx_count_distinct in
      // the main aggregation: one sketch blob per group per partition
      // beats keys×2^p shuffle rows once groups are many.
      val hllArg: ((Expr, String)) => Option[String] = {
        case (Func("distinctcounthll", Seq(Ident(n))), _) if q.groupBy.isEmpty => Some(n)
        case _ => None
      }
      val (hllNamed, sketchNamed) = nonRankNamed.partition(p => hllArg(p).isDefined)
      val hllFrames: Seq[DataFrame] =
        hllNamed.groupBy(p => hllArg(p).get).toSeq.sortBy(_._1)
          .map { case (_, items) =>
            val (e, first) = items.head
            val est = filtered.agg(aggColumn(e).as(first))
            if (items.size == 1) est
            else est.select(items.map { case (_, nm) => col(first).as(nm) }: _*)
          }
      val rankFrames: Seq[DataFrame] =
        rankNamed.groupBy(p => rankArg(p).get).toSeq.sortBy(_._1)
          .map { case (argName, items) =>
            val specs = items.map { case (Func(PercentileRe(_, pct), _), nm) =>
              graft.operators.Percentiles.Spec(
                percentileFraction(pct), nm, nearestRank = false)
            }
            if (q.groupBy.isEmpty)
              graft.operators.Percentiles.rankSelect(
                filtered.select(col(argName)), argName, specs)
            else
              // value column under a reserved alias (the _hp_v pattern):
              // selecting it under its own name collides when the
              // percentile argument is ALSO a group-by key, and
              // rankSelectKeyed's col(valueCol) would then be ambiguous
              graft.operators.Percentiles.rankSelectKeyed(
                grouped.select(groupCols :+ col(argName).as("_rs_v"): _*),
                keyNames, "_rs_v", specs)
          }
      val histFrames: Seq[DataFrame] =
        histNamed.groupBy(p => histArg(p).get).toSeq.sortBy(_._1)
          .map { case (argName, items) =>
            val specs = items.map { case (Func(PercentileRe(kind, pct), _), nm) =>
              graft.operators.Percentiles.Spec(
                percentileFraction(pct), nm, nearestRank = kind != "percentile")
            }
            val base =
              if (q.groupBy.isEmpty) filtered.select(col(argName).as("_hp_v"))
              else grouped.select(groupCols :+ col(argName).as("_hp_v"): _*)
            val frame = graft.operators.Percentiles.histogramAggs(
              base, if (q.groupBy.isEmpty) Nil else keyNames, "_hp_v",
              specs, keepNullGroups = true)
            frame.select(
              (if (q.groupBy.isEmpty) Nil else keyNames.map(col)) ++
                items.map { case (e, nm) =>
                  e match {
                    // EST → LONG, TDIGEST → DOUBLE (estResult's
                    // reference domains); exact PERCENTILE keeps the
                    // histogram's interpolated double as-is
                    case Func(PercentileRe(kind, _), _) if kind != "percentile" =>
                      estResult(kind, col(nm)).as(nm)
                    case _ => col(nm)
                  }
                }: _*)
          }
      val svFrame: Option[DataFrame] =
        if (sketchNamed.isEmpty) None
        else {
          // Same-column PERCENTILEEST/PERCENTILETDIGEST aggregations
          // fuse into ONE sketch build: percentile_approx accepts an
          // ARRAY of fractions, and every extra fraction is a free
          // lookup against the same summary. Without this, SELECT
          // PERCENTILEEST50(c), PERCENTILEEST95(c) builds two
          // independent sketches over every row — measured 1.7× slower
          // at 10M rows even after the accuracy fix. (The reference
          // pays the double build: one QuantileDigest per aggregation
          // function. We do strictly better by construction.)
          val estArg: ((Expr, String)) => Option[String] = {
            case (Func(PercentileRe(kind, _), Seq(a)), _) if kind != "percentile" =>
              Some(nameOf(a))
            case _ => None
          }
          val fused: Map[String, Seq[(Expr, String)]] =
            sketchNamed.flatMap(p => estArg(p).map(_ -> p))
              .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
              .filter(_._2.size >= 2)
          val fusedNames = fused.values.flatten.map(_._2).toSet
          val svCols =
            sketchNamed.collect { case (e, nm) if !fusedNames.contains(nm) =>
              aggColumn(e).as(nm)
            } ++
              fused.toSeq.sortBy(_._1).map { case (argName, items) =>
                val arg = items.head._1 match { case Func(_, Seq(a)) => scalar(a) }
                val fracs = items.map { case (Func(PercentileRe(_, pct), _), _) =>
                  lit(percentileFraction(pct))
                }
                percentile_approx(arg, array(fracs: _*), lit(EstAccuracy))
                  .as(s"_pa_$argName")
              }
          val raw =
            if (q.groupBy.isEmpty) filtered.agg(svCols.head, svCols.tail: _*)
            else grouped.groupBy(groupCols: _*).agg(svCols.head, svCols.tail: _*)
          val expanded =
            if (fused.isEmpty) raw
            else raw.select(
              keyNames.map(col) ++ sketchNamed.map { case (e, nm) =>
                estArg((e, nm)).filter(fused.contains) match {
                  case Some(argName) =>
                    val idx = fused(argName).indexWhere(_._2 == nm)
                    val kind = e match { case Func(PercentileRe(k, _), _) => k }
                    estResult(kind, element_at(col(s"_pa_$argName"), idx + 1)).as(nm)
                  case None => col(nm)
                }
              }: _*)
          Some(expanded)
        }
      // one sub-aggregation per distinct array argument (deterministic
      // order); explode_outer keeps entries whose array is empty/null
      // so every group stays present (COUNTMV counts 0 there, exactly
      // the SV twin over no values)
      val mvFrames: Seq[DataFrame] =
        mvNamed.groupBy(p => nameOf(mvArgOf(p._1))).toSeq.sortBy(_._1)
          .map { case (_, items) =>
            val arg = mvArgOf(items.head._1)
            val aggs = items.map { case (e, nm) => mvAggColumn(e, col("_mv_elem")).as(nm) }
            if (q.groupBy.isEmpty)
              grouped.select(explode_outer(scalar(arg)).as("_mv_elem"))
                .agg(aggs.head, aggs.tail: _*)
            else
              grouped.select(groupCols :+ explode_outer(scalar(arg)).as("_mv_elem"): _*)
                .groupBy(keyNames.map(col): _*)
                .agg(aggs.head, aggs.tail: _*)
          }
      // null-safe key equi-join: a null group key is a real group in
      // both engines; global aggregations are 1-row frames → crossJoin
      def joinFrames(l: DataFrame, r: DataFrame): DataFrame =
        if (q.groupBy.isEmpty) l.crossJoin(r)
        else {
          val rr = keyNames.foldLeft(r)((d, k) => d.withColumnRenamed(k, s"_rk_$k"))
          val cond = keyNames.map(k => l(k) <=> rr(s"_rk_$k")).reduce(_ && _)
          l.join(rr, cond, "inner").drop(keyNames.map(k => s"_rk_$k"): _*)
        }
      val agged = (svFrame.toSeq ++ histFrames ++ rankFrames ++ hllFrames ++ mvFrames)
        .reduce(joinFrames)
        // restore the documented column order: keys, then aggregations
        // in select order (hidden HAVING aggregations last)
        .select(keyNames.map(col) ++ named.map { case (_, nm) => col(nm) }: _*)
      val allAggNames = selAggs.map(e => nameOf(e) -> nameOf(e)).toMap ++ hiddenNames
      val havinged = q.having
        .map(h => agged.filter(havingPredicate(h, allAggNames)))
        .getOrElse(agged)
        .drop(hiddenNames.values.toSeq: _*)
      if (q.groupBy.isEmpty) havinged
      else {
        // TOP n: groups by first aggregation desc, keys asc as tiebreak
        val sortCols = col(nameOf(selAggs.head)).desc +:
          q.groupBy.map(e => col(nameOf(e)).asc)
        havinged.orderBy(sortCols: _*).limit(q.top.getOrElse(10))
      }
    } else {
      // ---- selection mode ----
      require(q.having.isEmpty, "HAVING requires GROUP BY")
      require(q.top.isEmpty, "TOP requires GROUP BY")
      val (offset, size) = q.limit.getOrElse((0, 10))
      val projected0 =
        if (q.select == Seq(Star)) filtered
        else filtered.select(q.select.map(e => scalar(e).as(nameOf(e))): _*)
      // SELECT DISTINCT (the DistinctAggregation path, SURVEY §2.5)
      val projected = if (q.distinct) projected0.distinct() else projected0
      // an ordered page over a sorted layout reads only its head/tail
      // files: graft.plans.SortedPageRule decides that at optimization,
      // for this frame as for any other
      val ordered =
        if (q.orderBy.isEmpty) projected
        else projected.orderBy(q.orderBy.map { case (c, asc) =>
          if (asc) col(c).asc else col(c).desc
        }: _*)
      val off = if (offset > 0) ordered.offset(offset) else ordered
      off.limit(size)
    }
  }

  /** Parse + compile against the parquet table registry. */
  def run(spark: SparkSession, dir: String, query: String): DataFrame =
    toDataFrame(parse(query), name => Tables.load(spark, dir, name))

  /** Compile a standalone scalar expression string to a Column — the
    * ingest-config expression hook (the reference evaluates config
    * strings per row via `FunctionExpressionEvaluator.java` backed by
    * the reflection registry `FunctionRegistry.java:30-55`; here the
    * same grammar compiles once to a codegen'd Column). */
  def compileExpression(expression: String): Column = {
    val p = new P(lex(expression))
    val e = p.expr()
    p.assertConsumed()
    scalar(e)
  }
}
