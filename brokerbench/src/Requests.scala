package graftbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.types.DoubleType

import graft.BenchScale
import graft.pql.Pql

/** How a response to one request is judged. */
sealed trait Check
/** Aggregation answer from the unrouted scan plan, compared by group key
  * under the double-drift rule of `BenchScale.verifyRoutedRows`. */
final case class RowsCheck(rows: Seq[Seq[String]], doubleCols: Set[Int]) extends Check
/** Ordered selection: the ORDER BY columns' value sequence is the page
  * contract (rows tied on every sort key may legally swap). */
final case class OrderCheck(orderCols: Seq[String], rows: Seq[Seq[String]]) extends Check
/** Approximate distinct count: within 5 % of the exact count. */
final case class ApproxCheck(exact: Long) extends Check
/** Queries over the live `events` table, judged against the generator. */
final case class EventsCheck(shape: String) extends Check

/** One distinct request of a workload's pool. */
final case class Request(shape: String, table: String, pql: String, check: Check) {
  lazy val query: Pql.Query = Pql.parse(pql)
  def selection: Boolean = !Pql.isAggregationQuery(query)
}

/** A parsed broker response: column names and rows of rendered cells. */
final case class Answer(columns: Seq[String], rows: Seq[Seq[String]], timeUsedMs: Long)

object Answer {
  private val mapper = new ObjectMapper()

  /** Broker JSON → answer, or the error it reports (code, message). */
  def parse(body: String): Either[(Int, String), Answer] = {
    val root = mapper.readTree(body)
    val used = Option(root.get("timeUsedMs")).map(_.asLong).getOrElse(-1L)
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val exceptions = Option(root.get("exceptions")).toSeq.flatMap(_.elements().asScala)
    if (exceptions.nonEmpty) {
      val e = exceptions.head
      Left((e.path("errorCode").asInt, e.path("message").asText))
    } else if (root.has("selectionResults")) {
      val s = root.get("selectionResults")
      Right(Answer(strings(s.get("columns")),
        s.get("results").elements().asScala.map(strings).toSeq, used))
    } else if (root.has("aggregationResults")) {
      val aggs = root.get("aggregationResults").elements().asScala.toSeq
      if (aggs.forall(a => !a.has("groupByResult")))
        Right(Answer(aggs.map(_.get("function").asText),
          Seq(aggs.map(_.get("value").asText)), used))
      else {
        val groups = aggs.map(a => a.get("groupByResult").elements().asScala.toSeq)
        val keys = groups.head.map(g => strings(g.get("group")))
        val rows = keys.indices.map(i => keys(i) ++ groups.map(_(i).get("value").asText))
        Right(Answer(strings(aggs.head.get("groupByColumns")) ++
          aggs.map(_.get("function").asText), rows, used))
      }
    } else Left((-1, s"unrecognised response: ${body.take(200)}"))
  }
}

object Requests {

  private def codes(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix$i%02d")

  /** The `BenchScale.workload` shapes the native layout routes — a2-a5
    * and h1 through star-trees, s2 and s3 through the dictionary — with
    * literals drawn from `rnd`: (shape, distinct PQL texts). */
  def routedTexts(rnd: Random): Seq[(String, Seq[String])] = {
    def template(name: String): String = BenchScale.workload.find(_._1 == name)
      .getOrElse(throw new IllegalStateException(s"no workload shape $name"))._3
    def subst(name: String, values: Seq[Seq[(String, String)]]): (String, Seq[String]) = {
      val t = template(name)
      name -> values.map(_.foldLeft(t) { case (s, (from, to)) =>
        require(s.contains(from), s"$name no longer contains '$from': $t")
        s.replace(from, to)
      }).distinct
    }
    def draw[T](xs: Seq[T], n: Int): Seq[T] = rnd.shuffle(xs).take(n)
    Seq(
      subst("a2_agg_1pred", draw(codes("C", 15), 2).map(c => Seq("'C03'" -> s"'$c'"))),
      subst("a3_agg_2pred", draw(codes("S", 40), 2).map(s => Seq(
        "'S05'" -> s"'$s'", "DepDelay > 10" -> s"DepDelay > ${rnd.nextInt(41)}"))),
      subst("a4_groupby_1dim", draw(Seq(5, 10, 20), 2).map(n => Seq("TOP 20" -> s"TOP $n"))),
      subst("a5_groupby_2dim", draw(Seq(25, 50, 100), 2).map(n => Seq("TOP 100" -> s"TOP $n"))),
      subst("s2_page", Seq.fill(2)(rnd.nextInt(5000)).map(o => Seq("LIMIT 1000, 100" -> s"LIMIT $o, 100"))),
      subst("s3_point_topn", draw(codes("A", 100), 2).map(a => Seq("'A07'" -> s"'$a'"))),
      "h1_hll" -> Seq(template("h1_hll")))
  }

  /** Expected answers through the UNROUTED scan plan over the tables
    * `load` returns. */
  def withExpected(load: String => DataFrame,
      texts: Seq[(String, String, Seq[String])], threads: Int): Seq[Request] = {
    lazy val flightNums = load("ontime").agg(countDistinct(col("FlightNum"))).head().getLong(0)
    val flat = texts.flatMap { case (shape, table, pqls) => pqls.map(p => (shape, table, p)) }
    Main.parMap(flat, threads) { case (shape, table, pql) =>
      val q = Pql.parse(pql)
      val check =
        if (shape == "h1_hll") ApproxCheck(flightNums)
        else {
          val df: DataFrame = Pql.toDataFrame(q, load)
          val rows = df.collect().toSeq.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
          if (Pql.isAggregationQuery(q))
            RowsCheck(rows, df.schema.fields.indices.filter(df.schema.fields(_).dataType == DoubleType).toSet)
          else {
            val idx = q.orderBy.map { case (c, _) => df.columns.indexWhere(_.equalsIgnoreCase(c)) }
            require(idx.forall(_ >= 0), s"ORDER BY column not selected in $pql")
            OrderCheck(q.orderBy.map(_._1), rows.map(r => idx.map(r)))
          }
        }
      Request(shape, table, pql, check)
    }
  }

  /** The live-table shapes; the event type of the filtered count is
    * drawn from `rnd`. */
  def eventRequests(rnd: Random): Seq[Request] = Seq(
    "e1_count" -> "SELECT COUNT(*) FROM events",
    "e2_sum_by_type" -> "SELECT SUM(value) FROM events GROUP BY event_type TOP 10",
    "e3_latest" -> "SELECT event_id, ts FROM events ORDER BY ts DESC LIMIT 10",
    "e4_type_count" ->
      s"SELECT COUNT(*) FROM events WHERE event_type = 'type${rnd.nextInt(EventStream.EventTypes)}'")
    .map { case (s, pql) => Request(s, "events", pql, EventsCheck(s)) }

  /** Equal within the double drift of `BenchScale.verifyRoutedRows`. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def sameCell(a: String, b: String, isDouble: Boolean): Boolean =
    a == b || (isDouble && a.toDoubleOption.zip(b.toDoubleOption).exists { case (x, y) => close(x, y) })

  /** `BenchScale.verifyRoutedRows`' rule on rendered cells: rows match by
    * their non-double cells; common rows agree cell for cell (doubles to
    * 1e-6 relative); a row present on one side only is legal just when
    * one of its double cells sits within drift of that column's TOP
    * cutoff. Exact measures admit no membership drift. */
  def verifyRows(got: Seq[Seq[String]], exp: Seq[Seq[String]], dbl: Set[Int]): Option[String] = {
    if (got.length != exp.length) return Some(s"row count ${got.length} != ${exp.length}")
    val width = exp.headOption.map(_.length).getOrElse(0)
    if (got.exists(_.length != width)) return Some(s"row width differs from $width")
    def key(r: Seq[String]): String = r.indices.filterNot(dbl).map(r).mkString("\u0001")
    val gotM = got.map(r => key(r) -> r).toMap
    val expM = exp.map(r => key(r) -> r).toMap
    val bad = (gotM.keySet intersect expM.keySet).iterator.flatMap { k =>
      val (g, e) = (gotM(k), expM(k))
      g.indices.find(i => !sameCell(g(i), e(i), dbl(i)))
        .map(i => s"col $i: ${g(i)} vs ${e(i)}")
    }.toSeq.headOption
    if (bad.isDefined) return bad
    val onlyOne = (gotM.keySet diff expM.keySet).toSeq.map(gotM) ++
      (expM.keySet diff gotM.keySet).toSeq.map(expM)
    if (onlyOne.isEmpty) None
    else if (dbl.isEmpty) Some(s"TOP membership differs on exact measures: ${onlyOne.head}")
    else {
      val cutoff = dbl.map(i => i -> exp.flatMap(_(i).toDoubleOption).minOption).toMap
      onlyOne.find(r => !dbl.exists(i =>
        r(i).toDoubleOption.zip(cutoff(i)).exists { case (v, c) => close(v, c) }))
        .map(r => s"TOP membership differs beyond the cutoff: $r")
    }
  }

  /** Judge an ontime answer; None when correct. */
  def verify(req: Request, a: Answer): Option[String] = req.check match {
    case RowsCheck(rows, dbl) => verifyRows(a.rows, rows, dbl)
    case OrderCheck(cols, rows) =>
      val idx = cols.map(c => a.columns.indexWhere(_.equalsIgnoreCase(c)))
      if (idx.exists(_ < 0)) Some(s"response lacks ORDER BY columns $cols")
      else {
        val got = a.rows.map(r => idx.map(r))
        if (got == rows) None
        else Some(s"page differs on $cols: ${got.take(3)} vs ${rows.take(3)}")
      }
    case ApproxCheck(exact) =>
      a.rows.headOption.flatMap(_.headOption).flatMap(_.toDoubleOption) match {
        case Some(est) if math.abs(est - exact) <= 0.05 * exact => None
        case other => Some(s"estimate $other outside 5% of exact $exact")
      }
    case EventsCheck(_) => Some("events answers are judged by the event stream")
  }
}
