package graft.pql

import scala.collection.mutable
import scala.util.Random

/** Port of the reference's randomized equivalent-query-pair generator
  * (`pinot-integration-tests/.../QueryGenerator.java`): random
  * selection and aggregation PQL over the OnTime schema's single- and
  * multi-value columns, each paired with equivalent H2-dialect SQL
  * that the harness executes independently (Spark SQL over the
  * flattened `__MV0..4` twin — [[CorpusHarness]]'s comparison rules).
  * Where the fixed 10K corpus can no longer surprise the front-end,
  * the generator probes fresh predicate/aggregation/group-by
  * COMBINATIONS every seed: NOT IN chains OR-joined with MV BETWEEN,
  * TOP 0 group-bys, regex predicates (which the shipped corpus
  * contains zero of), etc.
  *
  * Faithful to the reference's shape grammar:
  *  - strategies: selection | aggregation, uniform
  *    (`QueryGenerator.java:93-94,322-324`);
  *  - selection: 1-3 projection columns (any), 0-3 ORDER BY columns
  *    (single-value), LIMIT 0-29 or none (:771-798, 601-607);
  *  - aggregation: 0-3 functions (0 → COUNT(*)) from
  *    SUM/MIN/MAX/AVG (numeric single-value) and COUNT (any
  *    single-value), 0-3 GROUP BY columns, TOP 0-29 or none
  *    (:807-835, 877-891; DISTINCTCOUNT is disabled in the reference
  *    list at :82 and stays out here);
  *  - predicates: 0-3, AND/OR-joined flat; single-value columns draw
  *    comparison | IN/NOT IN | BETWEEN | REGEXP_LIKE, multi-value
  *    columns comparison (no <>) | IN (no NOT) | BETWEEN with the
  *    H2 side OR-expanded over `__MV0..4` (:95-100, 939-1100);
  *  - HAVING: the reference generates but never emits it (the TODO at
  *    :515-517 drops it from the PQL and the H2 SQL both) — omitted;
  *  - H2 rewrites: AVG(c) → AVG(CAST(c AS DOUBLE)), selection LIMIT →
  *    10000, aggregation one hsql per function (:522-553).
  *
  * Deliberate divergences, both documented at the site:
  *  - regex patterns only derive from values whose characters are
  *    regex-inert (the reference injects raw value characters into the
  *    pattern — fine for OnTime codes, a crash for metacharacters);
  *    other values fall back to the reference's own non-string
  *    equality fallback (:1018-1021);
  *  - the H2 side's `REGEXP_LIKE(c, p, 'i')` flag (:1016) is not
  *    reproduced: both engines here are case-sensitive, and the
  *    pattern's characters come from a real value, so sensitivity is
  *    symmetric (the 'i' was an H2-vs-Pinot accommodation).
  *
  * Values come from the seeded literal pools
  * ([[OnTimeCorpus.GeneratorPools]]) — the reference mines its pools
  * from the Avro data (:238-270), which is not shipped; our fixture's
  * data IS drawn ~70% from pools that contain these values
  * ([[OnTimeCorpus.fixturePools]], [[OnTimeCorpus.synthesize]]), save
  * a few non-dyadic float literals kept out of the data, so generated
  * predicates select real subsets. Neither the schema nor
  * the pools read a file, and the whole pipeline stays
  * Spark-free/deterministic so `oracleSql` can be built as a static
  * contract.
  *
  * Test-harness plumbing, not engine code: all driver-side work is
  * bounded by the generated line count.
  */
object QueryGen {

  // QueryGenerator.java:67-78
  private val MaxSelectionCols = 3
  private val MaxAggregationCols = 3
  private val MaxOrderByCols = 3
  private val MaxGroupByCols = 3
  private val MaxPredicates = 3
  private val MaxInValues = 5
  private val MaxResultLimit = 30
  private val ComparisonOps = Vector("=", "<>", "<", ">", "<=", ">=")
  private val BooleanOps = Vector("OR", "AND")
  private val AggFunctions = Vector("SUM", "MIN", "MAX", "AVG", "COUNT")

  final case class Col(name: String, dataType: String, multiValue: Boolean) {
    def numeric: Boolean =
      dataType != "STRING" && dataType != "BOOLEAN" && dataType != "BYTES"
  }

  /** SQL-token value pools per column, mirroring
    * `storeAvroValueIntoValueSet` (QueryGenerator.java:184-192):
    * numbers as raw tokens, strings quoted with `''` escaping. The
    * generators use the seeded pools only
    * ([[OnTimeCorpus.GeneratorPools]]), so they emit the same lines on
    * every machine, with or without the corpus file. */
  def sqlTokenPools(): Map[String, Vector[String]] =
    OnTimeCorpus.GeneratorPools.map { case (c, vs) =>
      c -> vs.map {
        case s: String => "'" + s.replace("'", "''") + "'"
        case d: BigDecimal => if (d.isWhole) d.toBigInt.toString else d.toString
        case other => String.valueOf(other)
      }
    }

  private[pql] def join(parts: String*): String =
    parts.filter(_.nonEmpty).mkString(" ")

  /** One seeded generator instance; `line(id)` is NOT idempotent (each
    * call advances the stream) — build query sets via [[lines]].
    *
    * `nullPredicates = true` (mode B only) widens the SV predicate
    * draw with an `IS [NOT] NULL` branch — a graft superset the
    * reference grammar can never emit (Pinot parses but cannot
    * execute null predicates), kept OFF here so mode A stays a
    * faithful port with an unchanged draw stream. MV null predicates
    * are deliberately not drawn: the any-element rule has no direct
    * `__MV0..4` twin rendering for null tests (an empty MV cell
    * null-pads all five slots), so only the fixed oracle rows pin
    * that corner. */
  final class Generator(cols: Vector[Col], pools: Map[String, Vector[String]],
      seed: Long, nullPredicates: Boolean = false) {
    private val rnd = new Random(seed)
    private val sv = cols.filter(!_.multiValue)
    private val svNumeric = sv.filter(_.numeric)

    private def pick[T](xs: Vector[T]): T = xs(rnd.nextInt(xs.length))
    private def pool(c: Col): Vector[String] = pools.getOrElse(c.name, Vector.empty)

    /** Distinct draws by retry into an insertion-ordered set — the
      * reference's `while (set.size < n) set.add(pickRandom(...))`
      * shape (deterministic here: LinkedHashSet + seeded stream). */
    private def drawDistinct[T](xs: Vector[T], n: Int): Vector[T] = {
      val want = math.min(n, xs.size)
      val out = mutable.LinkedHashSet.empty[T]
      while (out.size < want) out += pick(xs)
      out.toVector
    }

    // ---- predicates (QueryGenerator.java:331-360) ----

    /** (PQL WHERE, flat-twin WHERE) — package-visible so the
      * graft-surface grammar ([[QueryGenB]]) reuses the exact
      * reference predicate machinery (incl. the MV `__MV0..4`
      * OR-expansion) instead of forking it. */
    private[pql] def predicate(): (String, String) = {
      val count = rnd.nextInt(MaxPredicates + 1)
      val preds = mutable.ArrayBuffer.empty[(String, String)]
      var guard = 0
      while (preds.size < count && guard < 10000) {
        guard += 1
        val c = pick(cols)
        if (pool(c).nonEmpty)
          preds += (if (c.multiValue) mvPredicate(c) else svPredicate(c))
      }
      if (preds.isEmpty) ("", "")
      else {
        val ops = Vector.fill(preds.size - 1)(pick(BooleanOps))
        def render(side: ((String, String)) => String): String =
          "WHERE " + preds.tail.zip(ops).foldLeft(side(preds.head)) {
            case (acc, (p, op)) => s"$acc $op ${side(p)}"
          }
        (render(_._1), render(_._2))
      }
    }

    private def both(s: String): (String, String) = (s, s)

    private def svPredicate(c: Col): (String, String) =
      rnd.nextInt(if (nullPredicates) 5 else 4) match {
        case 0 => // comparison (:939-947)
          both(s"${c.name} ${pick(ComparisonOps)} ${pick(pool(c))}")
        case 1 => // IN / NOT IN (:952-971)
          val vs = drawDistinct(pool(c), rnd.nextInt(MaxInValues) + 1)
          val kw = if (rnd.nextBoolean()) "NOT IN" else "IN"
          both(s"${c.name} $kw (${vs.mkString(", ")})")
        case 2 => // BETWEEN, bounds possibly inverted → empty (:977-986)
          both(s"${c.name} BETWEEN ${pick(pool(c))} AND ${pick(pool(c))}")
        case 3 => regexOrEq(c)
        case _ => // IS [NOT] NULL — graft superset, same text both sides
          both(s"${c.name} IS ${if (rnd.nextBoolean()) "NOT " else ""}NULL")
      }

    /** Regex predicate (:991-1023): one inner character of a string
      * value replaced by `.*`. Only regex-inert values (letters,
      * digits, space, `_,/-`) become patterns — raw metacharacters
      * would crash the two regex engines differently; everything else
      * takes the reference's own equality fallback. */
    private def regexOrEq(c: Col): (String, String) = {
      val v = pick(pool(c))
      val inert = v.length >= 3 && v.startsWith("'") && v.endsWith("'") && {
        val inner = v.substring(1, v.length - 1)
        inner.nonEmpty && !inner.contains("'") &&
          inner.forall(ch => ch.isLetterOrDigit || " _,/-".contains(ch))
      }
      if (!inert) both(s"${c.name} = $v")
      else {
        val inner = v.substring(1, v.length - 1)
        val idx = rnd.nextInt(inner.length)
        val pat = inner.substring(0, idx) + ".*" + inner.substring(idx + 1)
        (s"REGEXP_LIKE(${c.name}, '$pat')", s"regexp_like(${c.name}, '$pat')")
      }
    }

    private def mvPredicate(c: Col): (String, String) = {
      def expand(f: String => String): String =
        "(" + (0 until 5).map(i => f(s"${c.name}__MV$i")).mkString(" OR ") + ")"
      rnd.nextInt(3) match {
        case 0 => // comparison, no <> (:1029-1049)
          var op = pick(ComparisonOps)
          while (op == "<>") op = pick(ComparisonOps)
          val v = pick(pool(c))
          (s"${c.name} $op $v", expand(n => s"$n $op $v"))
        case 1 => // IN, no NOT IN (:1056-1077)
          val vs = drawDistinct(pool(c), rnd.nextInt(MaxInValues) + 1).mkString(", ")
          (s"${c.name} IN ($vs)", expand(n => s"$n IN ($vs)"))
        case _ => // BETWEEN (:1083-1099)
          val (lo, hi) = (pick(pool(c)), pick(pool(c)))
          (s"${c.name} BETWEEN $lo AND $hi", expand(n => s"$n BETWEEN $lo AND $hi"))
      }
    }

    // ---- strategies ----

    private def selection(id: Int): OnTimeCorpus.Line = {
      val proj = drawDistinct(cols, rnd.nextInt(MaxSelectionCols) + 1)
      val ob = drawDistinct(sv, rnd.nextInt(MaxOrderByCols + 1))
      val (pqlW, sqlW) = predicate()
      val limit = rnd.nextInt(MaxResultLimit + 1)
      val obStr = if (ob.isEmpty) "" else "ORDER BY " + ob.map(_.name).mkString(", ")
      val pql = join("SELECT", proj.map(_.name).mkString(", "), "FROM mytable",
        pqlW, obStr, if (limit == MaxResultLimit) "" else s"LIMIT $limit")
      val sqlProj = proj.flatMap(c =>
        if (c.multiValue) (0 until 5).map(i => s"${c.name}__MV$i") else Seq(c.name))
      val sql = join("SELECT", sqlProj.mkString(", "), "FROM mytable",
        sqlW, obStr, "LIMIT 10000")
      OnTimeCorpus.Line(id, pql, Seq(sql))
    }

    private def randomAgg(): String = {
      val f = pick(AggFunctions)
      val c = if (f == "COUNT") pick(sv) else pick(svNumeric)
      s"$f(${c.name})"
    }

    private def aggregation(id: Int): OnTimeCorpus.Line = {
      val aggCount = rnd.nextInt(MaxAggregationCols + 1)
      val aggs =
        if (aggCount == 0) Vector("COUNT(*)")
        else {
          val set = mutable.LinkedHashSet.empty[String]
          while (set.size < aggCount) set += randomAgg()
          set.toVector
        }
      val (pqlW, sqlW) = predicate()
      val groups = drawDistinct(sv, rnd.nextInt(MaxGroupByCols + 1)).map(_.name)
      val top = rnd.nextInt(MaxResultLimit + 1)
      val topStr = if (top == MaxResultLimit) "" else s"TOP $top"
      val gStr = if (groups.isEmpty) "" else "GROUP BY " + groups.mkString(", ")
      val pql = join("SELECT", aggs.mkString(", "), "FROM mytable", pqlW, gStr, topStr)
      val hsqls = aggs.map { a =>
        val h2a =
          if (a.startsWith("AVG("))
            a.replace("AVG(", "AVG(CAST(").replace(")", " AS DOUBLE))")
          else a
        if (groups.isEmpty) join("SELECT", h2a, "FROM mytable", sqlW, "LIMIT 10000")
        else join("SELECT", groups.mkString(", ") + ",", h2a, "FROM mytable",
          sqlW, "GROUP BY", groups.mkString(", "), "LIMIT 10000")
      }
      OnTimeCorpus.Line(id, pql, hsqls)
    }

    def line(id: Int): OnTimeCorpus.Line =
      if (rnd.nextBoolean()) selection(id) else aggregation(id)
  }

  /** Default seed for the driver-gated sample — fixed so the static
    * self-oracle and the generated set agree across JVMs. */
  val DefaultSeed = 20260816L

  /** Deterministic generated lines: same (n, seed) → byte-identical
    * queries, any JVM. */
  def lines(n: Int, seed: Long = DefaultSeed): Vector[OnTimeCorpus.Line] = {
    val g = new Generator(OnTimeCorpus.Columns, sqlTokenPools(), seed)
    (0 until n).map(g.line).toVector
  }

  /** Rotating sweep seed: the UTC date — a fresh combination space
    * every day/round while staying reproducible (a failure names the
    * seed; rerun with it pinned). The driver-gated oracle rows keep
    * [[DefaultSeed]] so their self-oracles stay static contracts. */
  def rotatingSeed(): Long =
    java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toLong
}
