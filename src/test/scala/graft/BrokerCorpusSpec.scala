package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.pql.{BrokerServer, CorpusHarness, OnTimeCorpus, Pql}

/** Corpus × the live broker: real corpus and generated lines travel
  * the full HTTP path — POST body → parse → filter optimizer →
  * execute → [[graft.pql.BrokerResponse]] JSON — and the values
  * parsed BACK out of the response must equal direct
  * `Pql.toDataFrame` execution. The engine itself is corpus-proven;
  * the delta under test is everything the broker adds: request
  * decoding, response assembly for all three shapes, and typed cell
  * serialization (numbers, nulls, strings, MV arrays) under
  * `preserveType`.
  *
  * Trimming nondeterminism (group-by TOP ties, selection LIMIT
  * without a total order) is handled the way the corpus harness
  * handles it against H2: the broker rows must be CONTAINED in a
  * wide-limit direct result, and the broker row count must equal the
  * trimmed direct count. */
class BrokerCorpusSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def post(url: String, body: String): String = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val in = conn.getInputStream
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  // canonical string for a JSON response cell (mirrors typedCell's
  // emission: numeric literals are Java toString text, so asText
  // round-trips them exactly)
  private def canonJson(n: JsonNode): String =
    if (n == null || n.isNull) "null"
    else if (n.isArray) {
      val it = n.elements()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) buf += canonJson(it.next())
      buf.sorted.mkString("[", ",", "]")
    } else n.asText()

  // canonical string for a direct-execution cell (same shapes)
  private def canonCell(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] =>
      s.map(canonCell).sorted.mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  // numeric-tolerant cell equality: aggregation doubles may differ in
  // merge order between the two executions (harness precedent: 1e-9
  // relative)
  private def cellEq(a: String, b: String): Boolean =
    a == b || {
      (a.toDoubleOption, b.toDoubleOption) match {
        case (Some(x), Some(y)) =>
          x == y || math.abs(x - y) <=
            1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
        case _ => false
      }
    }

  private def arr(n: JsonNode): Seq[JsonNode] = {
    val it = n.elements()
    val buf = scala.collection.mutable.ArrayBuffer[JsonNode]()
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  /** Compare one line's broker response against direct execution;
    * returns None on match, Some(reason) otherwise. */
  private def checkLine(base: String, l: OnTimeCorpus.Line,
      table: org.apache.spark.sql.DataFrame): Option[String] = {
    val q = Pql.parse(l.pql)
    val pql = l.pql + " OPTION(preserveType=true)"
    val body = mapper.createObjectNode()
    body.put("pql", pql)
    val root = mapper.readTree(post(base, mapper.writeValueAsString(body)))
    if (root.has("exceptions"))
      return Some(s"broker exception: ${root.get("exceptions").toString.take(200)}")

    val direct = Pql.toDataFrame(q, _ => table)
    val directRows = direct.collect()
    val cols = direct.columns

    if (Pql.isAggregationQuery(q) && q.groupBy.isEmpty) {
      val aggs = arr(root.get("aggregationResults"))
      if (aggs.length != cols.length)
        return Some(s"agg count ${aggs.length} != ${cols.length}")
      val row = directRows.head
      aggs.zipWithIndex.foreach { case (a, i) =>
        val got = canonJson(a.get("value"))
        val want = canonCell(row.get(i))
        if (!cellEq(got, want)) return Some(s"agg $i: broker=$got direct=$want")
      }
      None
    } else if (q.groupBy.nonEmpty) {
      // wide-TOP direct result for containment (trim ties are not a
      // total order); count must match the trimmed direct result
      val wideRows = Pql.toDataFrame(q.copy(top = Some(100000)), _ => table).collect()
      val nKeys = q.groupBy.length
      val aggs = arr(root.get("aggregationResults"))
      if (aggs.length != cols.length - nKeys)
        return Some(s"agg count ${aggs.length} != ${cols.length - nKeys}")
      aggs.zipWithIndex.foreach { case (a, j) =>
        val wideMap = wideRows.map { r =>
          (0 until nKeys).map(i => canonCell(r.get(i))).mkString("|") ->
            canonCell(r.get(nKeys + j))
        }.toMap
        val groups = arr(a.get("groupByResult"))
        if (groups.length != directRows.length)
          return Some(s"fn $j: ${groups.length} groups != trimmed ${directRows.length}")
        groups.foreach { g =>
          val key = arr(g.get("group")).map(canonJson).mkString("|")
          val got = canonJson(g.get("value"))
          wideMap.get(key) match {
            case None => return Some(s"fn $j: broker group [$key] absent from direct")
            case Some(want) if !cellEq(got, want) =>
              return Some(s"fn $j group [$key]: broker=$got direct=$want")
            case _ => ()
          }
        }
      }
      None
    } else {
      val sel = root.get("selectionResults")
      val gotCols = arr(sel.get("columns")).map(_.asText())
      if (gotCols != cols.toSeq)
        return Some(s"columns ${gotCols.mkString(",")} != ${cols.mkString(",")}")
      val wideRows = Pql.toDataFrame(
        q.copy(limit = Some((0, 100000))), _ => table).collect()
      val wideSet = wideRows.map(r =>
        cols.indices.map(i => canonCell(r.get(i))).mkString("|")).toSet
      val got = arr(sel.get("results")).map(r => arr(r).map(canonJson).mkString("|"))
      if (got.length != directRows.length)
        return Some(s"${got.length} rows != trimmed ${directRows.length}")
      got.find(!wideSet.contains(_))
        .map(r => s"broker row [$r] absent from direct result")
    }
  }

  test("corpus and generated lines over the live HTTP endpoint match direct execution") {
    val fx = CorpusHarness.fixture(spark)
    // broker table dir: `mytable.parquet` links to the fixture's dump
    val dir = Files.createTempDirectory("graft_broker_fx").toFile
    val link = Paths.get(dir.getAbsolutePath, "mytable.parquet")
    Files.createSymbolicLink(link, Paths.get(CorpusHarness.segDir))
    val broker = new BrokerServer(spark, dir.getAbsolutePath)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      def check(lines: Seq[OnTimeCorpus.Line]): Unit = {
        val failures = lines.flatMap { l =>
          checkLine(base, l, fx.mv).map(r => s"id=${l.id}: $r\n  pql: ${l.pql}")
        }
        assert(failures.isEmpty,
          s"${failures.length} broker mismatches:\n${failures.take(5).mkString("\n")}")
      }
      // the generated lines need no file; the corpus half replays the
      // reference's lines and runs wherever the corpus exists
      check(graft.pql.QueryGen.lines(30) ++ graft.pql.QueryGenB.lines(30))
      assumeFile(OnTimeCorpus.CorpusPath)
      check(CorpusHarness.corpusLines(CorpusHarness.sampleIds(125)))
    } finally {
      broker.stop()
      Files.deleteIfExists(link)
      Files.deleteIfExists(dir.toPath)
    }
  }
}
