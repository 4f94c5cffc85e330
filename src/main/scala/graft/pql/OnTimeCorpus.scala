package graft.pql

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, try_element_at, lit}
import org.apache.spark.sql.types._

/** The reference's 10,000-query golden corpus, executable: loader for
  * the `{"hsqls":[...], "pql":"..."}` query file, the OnTime schema
  * declared in code, seeded literal pools, a deterministic synthesizer
  * for OnTime-schema data, and the H2-style multi-value flattening.
  *
  * The reference's integration harness builds segments from an OnTime
  * Avro file and mirrors every record into an H2 table, splitting each
  * multi-value field into `<name>__MV0..4` scalar columns
  * (`ClusterIntegrationTestUtils.java:84-180`,
  * `MAX_NUM_ELEMENTS_IN_MULTI_VALUE_TO_COMPARE = 5` at line 70). The
  * data file itself is not shipped in the repo, so we synthesize rows
  * against the published schema ([[Columns]], written out field by
  * field from `On_Time_On_Time_Performance_2014_100k_subset_nonulls.schema`
  * as FIXTURES.md §1 lists it), drawing values from per-column literal
  * pools ([[fixturePools]]): the seeded [[SeededPools]], plus, where
  * the corpus file exists, the literals mined out of the corpus's own
  * predicates. Both the generated queries ([[QueryGen]],
  * [[QueryGenB]], which draw only from the seeded pools) and the
  * corpus predicates therefore select non-trivial subsets on both
  * engines, so comparisons are not vacuous. Only corpus replay reads
  * the corpus file ([[corpus]]); nothing else needs it.
  *
  * Everything is seeded and iteration-ordered: the same (seed, rows)
  * always produces byte-identical data, so the DuckDB oracle can be
  * run against a parquet dump of the very frame the queries ran on.
  *
  * This file is test-harness plumbing, not engine code: driver-side
  * row building is bounded by `numRows` (thousands), and the corpus
  * file is a 10K-line local resource.
  */
object OnTimeCorpus {

  val ResourceDir = "/root/reference/pinot-integration-tests/src/test/resources"
  val CorpusPath = s"$ResourceDir/On_Time_On_Time_Performance_2014_100k_subset.test_queries_10K"
  val SchemaPath = s"$ResourceDir/On_Time_On_Time_Performance_2014_100k_subset_nonulls.schema"

  /** True where `path` is a regular file: the reference's corpus and
    * `.schema` are not shipped, so whatever reads them checks first. */
  def present(path: String): Boolean =
    java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path))

  /** True where the corpus file exists; only corpus replay needs it. */
  def corpusPresent: Boolean = present(CorpusPath)

  // ---- schema -------------------------------------------------------------

  /** The time column (INT days since epoch; the hybrid time boundary). */
  final val TimeColumn = "DaysSinceEpoch"

  /** The OnTime schema's 79 fields (FIXTURES.md §1): 53 single-value
    * and 9 multi-value dimensions, 16 metrics, then the time column,
    * grouped as [[PinotSchema.load]] reads the `.schema` file
    * (dimensionFieldSpecs ++ metricFieldSpecs ++ timeFieldSpec) and in
    * FIXTURES.md's order within a group. Pinot type names, so
    * [[QueryGen]] uses the list as is. */
  val Columns: Vector[QueryGen.Col] = {
    def sv(t: String, names: String*) = names.map(QueryGen.Col(_, t, multiValue = false))
    def mv(t: String, names: String*) = names.map(QueryGen.Col(_, t, multiValue = true))
    val dimensions =
      sv("LONG", "AirlineID") ++
      sv("INT", "ArrTime", "CRSArrTime", "CRSDepTime", "CRSElapsedTime", "DepTime",
        "DayOfWeek", "DayofMonth", "Month", "Quarter", "Year") ++
      sv("STRING", "ArrTimeBlk", "DepTimeBlk", "CancellationCode", "Carrier",
        "UniqueCarrier", "TailNum", "FlightDate") ++
      sv("STRING", "Dest", "DestCityName", "DestState", "DestStateName", "Origin",
        "OriginCityName", "OriginState", "OriginStateName") ++
      sv("INT", "DestAirportID", "DestAirportSeqID", "DestCityMarketID", "DestStateFips",
        "DestWac", "OriginAirportID", "OriginAirportSeqID", "OriginCityMarketID",
        "OriginStateFips", "OriginWac") ++
      sv("INT", "Distance", "DistanceGroup", "FlightNum", "Flights", "Diverted",
        "DivActualElapsedTime", "DivAirportLandings", "DivArrDelay", "DivDistance",
        "DivReachedDest", "FirstDepTime", "LongestAddGTime", "TotalAddGTime", "TaxiIn",
        "TaxiOut", "WheelsOn", "WheelsOff") ++
      mv("INT", "DivAirportIDs", "DivAirportSeqIDs") ++
      mv("STRING", "DivAirports") ++
      mv("FLOAT", "DivLongestGTimes") ++
      mv("STRING", "DivTailNums") ++
      mv("LONG", "DivTotalGTimes") ++
      mv("INT", "DivWheelsOffs", "DivWheelsOns") ++
      mv("STRING", "RandomAirports")
    val metrics =
      sv("INT", "ActualElapsedTime", "AirTime", "ArrDel15", "ArrivalDelayGroups",
        "Cancelled", "CarrierDelay", "DepDel15", "DepartureDelayGroups",
        "LateAircraftDelay", "NASDelay", "SecurityDelay", "WeatherDelay") ++
      sv("FLOAT", "ArrDelay", "DepDelayMinutes") ++
      sv("DOUBLE", "ArrDelayMinutes", "DepDelay")
    (dimensions ++ metrics ++ sv("INT", TimeColumn)).toVector
  }

  /** [[Columns]] as Spark sees them: a multi-value field is an
    * `ArrayType` of its element type. */
  val Schema: StructType = StructType(Columns.map { c =>
    val base = PinotSchema.sparkType(c.dataType)
    StructField(c.name, if (c.multiValue) ArrayType(base) else base)
  })

  /** One corpus line: the PQL under test plus its paired H2 SQLs (one
    * per aggregation for aggregation queries, one for selections). */
  final case class Line(id: Int, pql: String, hsqls: Seq[String])

  // ---- corpus file ------------------------------------------------------

  /** Minimal JSON reader for the corpus line shape — the file is
    * machine-generated `{"hsqls":["…"],"pql":"…"}` with standard JSON
    * string escaping; no external JSON dependency needed. */
  private def jsonString(s: String, from: Int): (String, Int) = {
    require(s.charAt(from) == '"', s"expected string at $from")
    val sb = new StringBuilder
    var i = from + 1
    while (s.charAt(i) != '"') {
      val c = s.charAt(i)
      if (c == '\\') {
        val e = s.charAt(i + 1)
        e match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => throw new IllegalArgumentException(s"bad escape \\$other")
        }
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i + 1)
  }

  private def parseLine(id: Int, s: String): Line = {
    var pql: String = null
    val hsqls = Vector.newBuilder[String]
    var i = 0
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    skipWs(); require(s.charAt(i) == '{'); i += 1
    var done = false
    while (!done) {
      skipWs()
      val (key, i2) = jsonString(s, i); i = i2
      skipWs(); require(s.charAt(i) == ':'); i += 1; skipWs()
      key match {
        case "pql" =>
          val (v, i3) = jsonString(s, i); pql = v; i = i3
        case "hsqls" =>
          require(s.charAt(i) == '['); i += 1; skipWs()
          while (s.charAt(i) != ']') {
            val (v, i3) = jsonString(s, i); hsqls += v; i = i3
            skipWs()
            if (s.charAt(i) == ',') { i += 1; skipWs() }
          }
          i += 1
        case other => throw new IllegalArgumentException(s"unexpected key $other")
      }
      skipWs()
      if (s.charAt(i) == ',') i += 1 else done = true
    }
    Line(id, pql, hsqls.result())
  }

  /** The corpus, parsed once. Where the file is missing, every access
    * throws the `FileNotFoundException` that names its path (a lazy
    * val whose initializer throws stays uninitialized). */
  lazy val corpus: Vector[Line] = {
    val src = scala.io.Source.fromFile(CorpusPath, "UTF-8")
    try src.getLines().zipWithIndex.collect {
      case (l, i) if l.trim.nonEmpty => parseLine(i, l.trim)
    }.toVector
    finally src.close()
  }

  // ---- literal-pool mining ---------------------------------------------

  /** Every (column → predicate literal) pair in the corpus, via the
    * PQL AST — the synthesized data draws from these pools so corpus
    * predicates select real subsets. */
  def minePools(lines: Seq[Line]): Map[String, Vector[Any]] = {
    val pools = mutable.Map.empty[String, mutable.LinkedHashSet[Any]]
    def add(e: Pql.Expr, v: Pql.Expr): Unit = (e, v) match {
      case (Pql.Ident(n), Pql.NumLit(x)) =>
        pools.getOrElseUpdate(n, mutable.LinkedHashSet.empty) += x
      case (Pql.Ident(n), Pql.StrLit(x)) =>
        pools.getOrElseUpdate(n, mutable.LinkedHashSet.empty) += x
      case _ => ()
    }
    def walk(p: Pql.Pred): Unit = p match {
      case Pql.Cmp(e, _, v) => add(e, v)
      case Pql.Between(e, lo, hi) => add(e, lo); add(e, hi)
      case Pql.In(e, vals, _) => vals.foreach(add(e, _))
      case Pql.AndP(ps) => ps.foreach(walk)
      case Pql.OrP(ps) => ps.foreach(walk)
      case _ => ()
    }
    lines.foreach { l =>
      try Pql.parse(l.pql).where.foreach(walk)
      catch { case _: IllegalArgumentException => () }
    }
    pools.map { case (k, v) => k -> v.toVector }.toMap
  }

  // ---- seeded pools -------------------------------------------------------

  private val PoolSeed = 20261019L

  /** Strings outside the code alphabet, a few of which go into every
    * STRING pool. The corpus's own values (city names such as
    * "Coeur d'Alene, ID") carry such characters, so the generated lines
    * must too: an apostrophe exercises the `''` escape, a space or
    * comma a `REGEXP_LIKE` pattern that is not plain alphanumerics, and
    * a regex metacharacter the generator's equality fallback
    * ([[QueryGen]]'s `regexOrEq`). No backslash: Spark SQL reads it as
    * an escape in string literals, the reference's H2 does not. */
  private val SpecialStrings = Vector("O'HARE", "COEUR D'ALENE, ID", "FORT WORTH, TX",
    "NEW YORK", "ST. LOUIS, MO", "A+B", "(C)", "X*Y", "Q?", "[Z]", "P|Q", "$4", "^K", "{N}")

  /** Seeded per-column literal pools, in [[minePools]]' raw form
    * (`BigDecimal` numbers, `String` strings): 6–25 distinct values per
    * column of [[Columns]], each column drawn from its own stream
    * (seeded by `PoolSeed` and the column name), so the pools are the
    * same on every machine. The reference mines its generator pools
    * from the Avro data (`QueryGenerator.java:238-270`); that data is
    * not shipped, so these pools stand in for it. Values:
    *  - INT / LONG: whole numbers in [-100, 2400) — far below 2^31
    *    even after mode B's `col × 9`; the time column holds 2014's
    *    epoch days (16071–16435), as the OnTime data does;
    *  - FLOAT / DOUBLE: halves in [-50, 550) — dyadic, so sums are
    *    exact in both engines ([[synthesize]]);
    *  - STRING: one or two of [[SpecialStrings]], then codes of 2–7
    *    characters, a letter then letters or digits. */
  val SeededPools: Map[String, Vector[Any]] = Columns.map { c =>
    val rnd = new Random(PoolSeed ^ c.name.hashCode)
    def draw(): Any = c.dataType match {
      case "STRING" =>
        val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        alnum(rnd.nextInt(26)).toString +
          Seq.fill(1 + rnd.nextInt(6))(alnum(rnd.nextInt(alnum.length))).mkString
      case "FLOAT" | "DOUBLE" => BigDecimal(rnd.nextInt(1200) - 100) / 2
      case _ if c.name == TimeColumn => BigDecimal(16071 + rnd.nextInt(365))
      case _ => BigDecimal(rnd.nextInt(2500) - 100)
    }
    val want = 6 + rnd.nextInt(20)
    val specials = if (c.dataType == "STRING") 1 + rnd.nextInt(2) else 0
    val out = mutable.LinkedHashSet.empty[Any]
    while (out.size < specials) out += SpecialStrings(rnd.nextInt(SpecialStrings.size))
    while (out.size < want) out += draw()
    c.name -> out.toVector
  }.toMap

  /** The pools both generators draw literals from: [[SeededPools]],
    * plus three literals per FLOAT / DOUBLE column that are not dyadic
    * (one decimal digit, never .0 or .5), so comparisons meet decimals
    * that a float cannot hold exactly. The fixture never synthesizes
    * these, so its sums stay exact. */
  val GeneratorPools: Map[String, Vector[Any]] = SeededPools.map { case (name, seeded) =>
    Columns.find(_.name == name).map(_.dataType) match {
      case Some("FLOAT" | "DOUBLE") =>
        val rnd = new Random(PoolSeed ^ name.hashCode ^ 1L)
        val tenths = Vector(1, 2, 3, 4, 6, 7, 8, 9)
        name -> (seeded ++ Vector.fill(3)(
          BigDecimal(rnd.nextInt(600) - 50) + BigDecimal(tenths(rnd.nextInt(8))) / 10)).distinct
      case _ => name -> seeded
    }
  }

  /** The pools [[CorpusHarness.fixture]] synthesizes from: per column,
    * the seeded pool followed by the corpus's mined literals where the
    * corpus file exists (so corpus predicates stay selective), else
    * the seeded pool alone. */
  def fixturePools(): Map[String, Vector[Any]] = {
    val mined = if (corpusPresent) minePools(corpus) else Map.empty[String, Vector[Any]]
    (SeededPools.keySet ++ mined.keySet).iterator.map { c =>
      c -> (SeededPools.getOrElse(c, Vector.empty) ++ mined.getOrElse(c, Vector.empty)).distinct
    }.toMap
  }

  // ---- synthesis --------------------------------------------------------

  /** Deterministic OnTime-shaped rows. Per column: ~70% of values come
    * from its literal pool (typed), the rest fill a slightly
    * widened [min, max] range (numerics) or re-draw from the pool
    * (strings). Multi-value columns get 1–4 elements — the reference
    * harness compares at most 5 (`MAX_NUM_ELEMENTS_..._TO_COMPARE`),
    * so staying ≤5 keeps the H2 flattening lossless. */
  def synthesize(spark: SparkSession, schema: StructType,
      pools: Map[String, Vector[Any]], numRows: Int, seed: Long = 42L): DataFrame = {
    val rnd = new Random(seed)

    // typed pool + numeric range per column, resolved once
    final case class Gen(typed: Vector[Any], lo: Double, hi: Double)
    def resolve(name: String, dt: DataType): Gen = {
      val raw = pools.getOrElse(name, Vector.empty)
      val typed: Vector[Any] = dt match {
        case IntegerType => raw.collect { case d: BigDecimal if d.isWhole => d.toInt }
        case LongType => raw.collect { case d: BigDecimal if d.isWhole => d.toLong }
        case FloatType => raw.collect { case d: BigDecimal => d.toFloat }
        case DoubleType => raw.collect { case d: BigDecimal => d.toDouble }
        case StringType => raw.collect { case s: String => s }
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
      val nums = typed.collect {
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case f: Float => f.toDouble
        case d: Double => d
      }
      if (nums.nonEmpty) {
        val (mn, mx) = (nums.min, nums.max)
        val pad = math.max(2.0, (mx - mn) * 0.1)
        // a half-aligned lower bound keeps the float/double fill dyadic
        Gen(typed, math.floor((mn - pad) * 2) / 2, mx + pad)
      } else Gen(typed, 0, 500)
    }

    def draw(g: Gen, dt: DataType): Any = {
      val fromPool = g.typed.nonEmpty && rnd.nextDouble() < 0.7
      dt match {
        case StringType =>
          if (g.typed.nonEmpty) g.typed(rnd.nextInt(g.typed.size))
          else f"${('A' + rnd.nextInt(26)).toChar}${('A' + rnd.nextInt(26)).toChar}${('A' + rnd.nextInt(26)).toChar}"
        case _ if fromPool => g.typed(rnd.nextInt(g.typed.size))
        case IntegerType => g.lo.toInt + rnd.nextInt(math.max(1, g.hi.toInt - g.lo.toInt + 1))
        case LongType => g.lo.toLong + (rnd.nextLong() & Long.MaxValue) % math.max(1L, g.hi.toLong - g.lo.toLong + 1)
        // halves only: dyadic values survive float→double promotion and
        // sum exactly in both engines, so SUM/AVG compare bit-clean
        case FloatType => (g.lo + rnd.nextInt(math.max(1, ((g.hi - g.lo) * 2).toInt + 1)) / 2.0).toFloat
        case DoubleType => g.lo + rnd.nextInt(math.max(1, ((g.hi - g.lo) * 2).toInt + 1)) / 2.0
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
    }

    val gens = schema.fields.map { f =>
      f.dataType match {
        case ArrayType(el, _) => (resolve(f.name, el), el, true)
        case dt => (resolve(f.name, dt), dt, false)
      }
    }
    val rows = (0 until numRows).map { _ =>
      Row.fromSeq(gens.toSeq.map {
        case (g, el, true) => Seq.fill(1 + rnd.nextInt(4))(draw(g, el))
        case (g, dt, false) => draw(g, dt)
      })
    }
    // few, fat partitions: thousands of corpus micro-queries scan this
    // cached frame, and per-task scheduling overhead dominates at this
    // row count — 4 tasks/scan is plenty for thousands of rows
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(schema.fields.map(_.copy(nullable = true))))
  }

  /** H2-style flattening: every ArrayType column becomes five scalar
    * `<name>__MV0..4` columns (null-padded), matching how the paired
    * hsqls reference multi-value data
    * (`ClusterIntegrationTestUtils.java:120-127,156-168`). */
  def flatten(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.flatMap {
      case StructField(n, ArrayType(_, _), _, _) =>
        // try_element_at: null past the array end (ANSI element_at
        // throws), matching H2's null-padded __MV columns
        (0 until 5).map(i => try_element_at(col(n), lit(i + 1)).as(s"${n}__MV$i"))
      case f => Seq(col(f.name))
    }
    df.select(cols.toSeq: _*)
  }
}
