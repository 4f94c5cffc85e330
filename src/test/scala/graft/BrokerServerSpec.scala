package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions.col

import graft.pql.BrokerServer

/** The PQL-over-HTTP entry point driven end-to-end over a real socket:
  * GET and POST request shapes, all three response shapes, the
  * exceptions list on bad input, and OPTION(timeoutMs) enforcement. */
class BrokerServerSpec extends SparkSpec {

  private def http(method: String, url: String, body: Option[String] = None): String = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val in = conn.getInputStream
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  test("GET and POST /query answer with broker response shapes") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"

      // GET with URL-encoded pql → selection shape
      val sel = http("GET", s"$base?pql=" + java.net.URLEncoder.encode(
        "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 3",
        StandardCharsets.UTF_8))
      assert(sel.contains("\"selectionResults\""), sel.take(300))
      assert(sel.contains("\"timeUsedMs\""), sel.take(300))

      // POST {"pql": ...} → aggregation shape (escaped quotes in body)
      val agg = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*), MAX(l_quantity) FROM lineitem WHERE l_returnflag = 'R'"}"""))
      assert(agg.contains("\"aggregationResults\""), agg.take(300))
      assert(agg.contains("\"count_star\""), agg.take(300))

      // group-by shape
      val gby = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM lineitem GROUP BY l_returnflag TOP 5"}"""))
      assert(gby.contains("\"groupByResult\""), gby.take(300))

      // every response is valid JSON — parse back via Spark
      import spark.implicits._
      Seq(sel, agg, gby).foreach { j =>
        val parsed = spark.read.json(Seq(j).toDS)
        assert(!parsed.columns.contains("_corrupt_record"), j.take(200))
      }

      // OPTION(preserveType=true) → native JSON types, not strings
      // (BrokerReduceService.java:183-186)
      val typed = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM nation OPTION(preserveType=true)"}"""))
      assert(typed.contains("\"value\": 25"), typed.take(300))
      val stringy = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(stringy.contains("\"value\": \"25\""), stringy.take(300))
      // MV (array) cells under preserveType render as JSON arrays
      val mv = http("POST", base, Some(
        """{"pql": "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1 OPTION(preserveType=true)"}"""))
      assert(mv.contains("[["), mv.take(300))
      import spark.implicits._
      assert(!spark.read.json(Seq(mv).toDS).columns.contains("_corrupt_record"),
        mv.take(300))

      // parse error → reference exceptions list (code 150), HTTP 200
      val bad = http("POST", base, Some("""{"pql": "SELECT FROM WHERE"}"""))
      assert(bad.contains("\"errorCode\": 150"), bad.take(300))
      // missing pql key → code 100
      val noPql = http("POST", base, Some("""{"sql": "SELECT 1"}"""))
      assert(noPql.contains("\"errorCode\": 100"), noPql.take(300))
      // unknown table → execution error, not a hung socket
      val noTable = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nope"}"""))
      assert(noTable.contains("\"errorCode\": 200"), noTable.take(300))
    } finally broker.stop()
  }

  test("FCFS admission: maxConcurrentQueries=1 serializes parallel clients, none dropped") {
    // a generous admission wait: 6 serialized ~0.4 s queries put the
    // last client's queue time right at the 2 s default — this test
    // pins FCFS serialization without drops, not the wait bound
    // (which the saturation test below exercises)
    val broker = new BrokerServer(spark, sfDir, maxConcurrentQueries = 1,
      admissionWaitMs = 30000L)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // warm the query path first: a cold session's first COUNT pays
      // several seconds of JIT/codegen, which would alone exceed the
      // 2 s admission wait and 429 the whole burst — that's cold-start
      // latency, not the FCFS behavior under test
      http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM nation WHERE n_nationkey >= 0"}"""))
      val results = Await.result(Future.sequence((1 to 6).map(i => Future {
        http("POST", base,
          Some(s"""{"pql": "SELECT COUNT(*) FROM nation WHERE n_nationkey >= $i"}"""))
      })), 120.seconds)
      assert(results.forall(_.contains("\"aggregationResults\"")),
        results.map(_.take(120)).mkString("\n"))
    } finally broker.stop()
  }

  test("pool saturation past the hard max answers 429, no hung connections") {
    // maxConcurrentQueries=1 → pool hard max is 1*4+16 = 20 threads.
    // 40 concurrent requests: 20 land on pool threads (1 executes,
    // the rest park on admission ≤2 s → 429); the other 20 are
    // REJECTED by the SynchronousQueue pool — before the overflow
    // drain they would hang until client timeout. Every request must
    // get an HTTP response.
    val broker = new BrokerServer(spark, sfDir, maxConcurrentQueries = 1)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nation"}""")) // warm
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(Future.sequence((1 to 40).map(i => Future {
        http("POST", base,
          Some(s"""{"pql": "SELECT COUNT(*) FROM nation WHERE n_nationkey >= ${i % 7}"}"""))
      })), 60.seconds)
      assert(results.length == 40)
      // every response is a complete broker JSON: results or a 429
      results.foreach { r =>
        assert(r.contains("\"aggregationResults\"") || r.contains("\"errorCode\": 429"),
          r.take(200))
      }
      assert(results.exists(_.contains("\"aggregationResults\"")))
      // saturation did not wedge the pool: a follow-up query succeeds
      val after = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(after.contains("\"aggregationResults\""), after.take(200))
    } finally broker.stop()
  }

  test("OPTION(schedulerPool) assigns the fair-scheduler pool and still answers") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      val out = http("POST", s"http://127.0.0.1:$port/query",
        Some("""{"pql": "SELECT COUNT(*) FROM nation OPTION(schedulerPool=etl)"}"""))
      assert(out.contains("\"aggregationResults\""), out.take(300))
      // the request-scoped pool assignment must not leak to this thread
      assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
    } finally broker.stop()
  }

  test("OPTION(trace) returns per-operator metrics in traceInfo") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      val out = http("POST", s"http://127.0.0.1:$port/query",
        Some("""{"pql": "SELECT COUNT(*) FROM nation WHERE n_regionkey > 0 OPTION(trace=true)"}"""))
      assert(out.contains("\"aggregationResults\""), out.take(300))
      assert(out.contains("\"traceInfo\""), out.take(500))
      // a scan operator with its rows metric must appear
      assert(out.contains("Scan") && out.contains("numOutputRows="), out)
      // without the option there is no traceInfo
      val plain = http("POST", s"http://127.0.0.1:$port/query",
        Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(!plain.contains("traceInfo"))
      // aggregation responses carry the reference's numDocsScanned stat
      assert(plain.contains("\"numDocsScanned\""), plain.take(300))
    } finally broker.stop()
  }

  test("health, routingTable, and timeBoundary endpoints answer") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      assert(http("GET", s"http://127.0.0.1:$port/health") === "OK")
      val routing = http("GET", s"http://127.0.0.1:$port/debug/routingTable/nation")
      assert(routing.contains("\"nation\"") && routing.contains("localhost")
        && routing.contains(".parquet"), routing.take(300))
      val boundary = http("GET", s"http://127.0.0.1:$port/debug/timeBoundary/events")
      assert(boundary.contains("\"timeColumnName\": \"ts\"")
        && boundary.contains("timeValue"), boundary.take(300))
      // unknown table → reference-style exceptions list
      val missing = http("GET", s"http://127.0.0.1:$port/debug/routingTable/nope")
      assert(missing.contains("\"errorCode\": 200"), missing.take(300))
    } finally broker.stop()
  }

  test("routingTable and timeBoundary show the committed files of a file-sink table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_broker_sink").toFile.getAbsolutePath
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)](spark)
    val q = graft.streaming.RealtimeIngest.start(source.toDF.toDF("id", "ts"),
      s"$dir/live.parquet", s"$dir/ckp",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val broker = new BrokerServer(spark, dir)
    val port = broker.start()
    try {
      source.addData((0L until 20L).map(i => (i, 1000L + i)))
      q.processAllAvailable()
      // an uncommitted part file: in the directory, in no log entry,
      // with a later time than any committed row
      val table = new java.io.File(s"$dir/live.parquet")
      Seq((99L, 5000L)).toDF("id", "ts").coalesce(1)
        .write.parquet(s"$dir/stray")
      val stray = new java.io.File(s"$dir/stray").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(stray.toPath,
        new java.io.File(table, "part-00000-stray.c000.snappy.parquet").toPath)
      val committed = table.listFiles().map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.contains("stray"))
      assert(committed.nonEmpty)
      val routing = http("GET", s"http://127.0.0.1:$port/debug/routingTable/live")
      assert(!routing.contains("stray"), routing.take(300))
      committed.foreach(n => assert(routing.contains(s""""$n""""), routing.take(300)))
      val boundary = http("GET", s"http://127.0.0.1:$port/debug/timeBoundary/live")
      assert(boundary.contains("\"timeValue\": \"1019\""), boundary.take(300))
    } finally { broker.stop(); q.stop() }
  }

  test("QpsLimiter: token-bucket refill at qps with burst max(1, qps)") {
    var now = 0L
    val clock = () => now
    val lim = new BrokerServer.QpsLimiter(2.0, clock) // capacity 2
    assert(lim.tryAcquire() && lim.tryAcquire(), "burst of 2 admitted")
    assert(!lim.tryAcquire(), "bucket empty")
    now += 500000000L // +0.5 s → 1 token refilled
    assert(lim.tryAcquire())
    assert(!lim.tryAcquire())
    now += 10000000000L // +10 s → refill caps at capacity 2, not 20
    assert(lim.tryAcquire() && lim.tryAcquire())
    assert(!lim.tryAcquire())
  }

  test("per-table QPS quota returns 429 QuotaExceededError, other tables unaffected") {
    // qps so small the bucket never refills within the test: request 1
    // succeeds on burst capacity 1, every later request is rejected
    val broker = new BrokerServer(spark, sfDir,
      tableQuotas = Map("nation" -> 0.001))
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      val first = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(first.contains("\"aggregationResults\""), first.take(300))
      val second = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(second.contains("\"errorCode\": 429") &&
        second.contains("QuotaExceededError"), second.take(300))
      // an unquota'd table still answers
      val other = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM region"}"""))
      assert(other.contains("\"aggregationResults\""), other.take(300))
    } finally broker.stop()
  }

  test("access control hook: deny drops the query with code 180, allow executes") {
    // table-scoped ACL keyed on the Authorization header — the
    // reference's AccessControlFactory.hasAccess(requesterIdentity,
    // brokerRequest) contract (BaseBrokerRequestHandler.java:145-152)
    val acl: BrokerServer.AccessControl = (identity, q) =>
      q.table != "lineitem" || identity.contains("Bearer secret")
    val broker = new BrokerServer(spark, sfDir, accessControl = acl)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      // protected table, no credentials → 180, never executed
      val denied = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM lineitem"}"""))
      assert(denied.contains("\"errorCode\": 180") &&
        denied.contains("AccessDeniedError"), denied.take(300))
      // same query with credentials → answers
      val conn = new URI(base).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Authorization", "Bearer secret")
      val os = conn.getOutputStream
      try os.write("""{"pql": "SELECT COUNT(*) FROM lineitem"}"""
        .getBytes(StandardCharsets.UTF_8)) finally os.close()
      val in = conn.getInputStream
      val allowed = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      assert(allowed.contains("\"aggregationResults\""), allowed.take(300))
      // unprotected table needs no credentials
      val open = http("POST", base, Some("""{"pql": "SELECT COUNT(*) FROM nation"}"""))
      assert(open.contains("\"aggregationResults\""), open.take(300))
    } finally broker.stop()
  }

  test("queryResponseLimit rejects over-limit TOP and LIMIT with code 700") {
    val broker = new BrokerServer(spark, sfDir, queryResponseLimit = 50)
    val port = broker.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      // selection LIMIT over the cap → rejected pre-execution
      // (validateRequest, BaseBrokerRequestHandler.java:319-335)
      val sel = http("POST", base,
        Some("""{"pql": "SELECT l_orderkey FROM lineitem LIMIT 1000000"}"""))
      assert(sel.contains("\"errorCode\": 700") &&
        sel.contains("exceeds maximum allowed value of 50"), sel.take(300))
      // group-by TOP over the cap → rejected
      val top = http("POST", base,
        Some("""{"pql": "SELECT COUNT(*) FROM lineitem GROUP BY l_partkey TOP 100000"}"""))
      assert(top.contains("\"errorCode\": 700"), top.take(300))
      // within the cap → answers normally
      val ok = http("POST", base,
        Some("""{"pql": "SELECT l_orderkey FROM lineitem LIMIT 50"}"""))
      assert(ok.contains("\"selectionResults\""), ok.take(300))
    } finally broker.stop()
  }

  test("debug endpoints reject path-traversal table names") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      val evil = http("GET",
        s"http://127.0.0.1:$port/debug/routingTable/..%2F..%2Fetc")
      assert(evil.contains("\"errorCode\": 200") &&
        evil.contains("unknown table"), evil.take(300))
      val evil2 = http("GET",
        s"http://127.0.0.1:$port/debug/timeBoundary/..%2Fsf0.001%2Fevents")
      assert(evil2.contains("\"errorCode\": 200") &&
        evil2.contains("unknown table"), evil2.take(300))
    } finally broker.stop()
  }

  test("OPTION(timeoutMs) cancels the job group at the deadline") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      // 1 ms deadline over a query whose execution can't finish that
      // fast → the reference's execution-timeout exception (code 250)
      val out = http("POST", s"http://127.0.0.1:$port/query",
        Some("""{"pql": "SELECT DISTINCTCOUNT(l_partkey) FROM lineitem GROUP BY l_suppkey TOP 10000 OPTION(timeoutMs=1)"}"""))
      assert(out.contains("\"errorCode\": 250"), out.take(300))
      // a sane deadline still answers
      val ok = http("POST", s"http://127.0.0.1:$port/query",
        Some("""{"pql": "SELECT COUNT(*) FROM nation OPTION(timeoutMs=60000)"}"""))
      assert(ok.contains("\"aggregationResults\""), ok.take(300))
    } finally broker.stop()
  }

  test("OPTION(timeoutMs) runs a sorted page's count and probe jobs in the query's job group") {
    val dir = java.nio.file.Files.createTempDirectory("graft_broker_page").toFile.getAbsolutePath
    spark.read.parquet(s"$sfDir/lineitem.parquet").repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(s"$dir/li_sorted.parquet")
    // ~750-row files above a 100-row page limit: the filtered page
    // counts its candidate files and probes its boundary
    val session = spark.newSession()
    session.conf.set("parquet.page.row.count.limit", "100")
    val broker = new BrokerServer(session, dir)
    val port = broker.start()
    val groups = try {
      val pql = "SELECT l_orderkey, l_quantity FROM li_sorted WHERE l_quantity > 10 " +
        "ORDER BY l_orderkey LIMIT 25"
      def post(q: String) = http("POST", s"http://127.0.0.1:$port/query", Some(s"""{"pql": "$q"}"""))
      // a first answer loads the table and reads its footers
      assert(post(pql).contains("\"selectionResults\""))
      JobCount(spark) {
        val out = post(s"$pql OPTION(timeoutMs=60000)")
        assert(out.contains("\"selectionResults\""), out.take(300))
      }.jobs.map(_.group)
    } finally broker.stop()
    // the count, the boundary probe and the page itself
    assert(groups.size >= 3, groups)
    assert(groups.forall(_.startsWith("graft-broker-")), groups)
  }

  test("OPTION(timeoutMs) runs the jobs of compilation in the query's job group") {
    // a table no earlier request has loaded or counted: its schema
    // inference and COUNT(*)'s footer read run while the frame is built
    val dir = java.nio.file.Files.createTempDirectory("graft_broker_compile").toFile.getAbsolutePath
    spark.read.parquet(s"$sfDir/lineitem.parquet").write.parquet(s"$dir/li.parquet")
    val broker = new BrokerServer(spark, dir)
    val port = broker.start()
    val groups = try JobCount(spark) {
      def post(q: String) = http("POST", s"http://127.0.0.1:$port/query", Some(s"""{"pql": "$q"}"""))
      // an exact percentile over a double column narrows by rank in
      // passes that run while the frame is built
      val pct = post("SELECT PERCENTILE50(l_extendedprice) FROM li OPTION(timeoutMs=60000)")
      assert(pct.contains("\"aggregationResults\""), pct.take(300))
      val count = post("SELECT COUNT(*) FROM li OPTION(timeoutMs=60000)")
      assert(count.contains("\"aggregationResults\""), count.take(300))
    }.jobs.map(_.group) finally broker.stop()
    assert(groups.size >= 3, groups)
    assert(groups.forall(_.startsWith("graft-broker-")), groups)
  }

  test("OPTION(timeoutMs) reports a failed query's own error") {
    val broker = new BrokerServer(spark, sfDir)
    val port = broker.start()
    try {
      def post(q: String) = http("POST", s"http://127.0.0.1:$port/query", Some(s"""{"pql": "$q"}"""))
      // a division by zero fails while the query executes
      val bad = "SELECT SUM(DIV(l_quantity, 0)) FROM lineitem"
      val plain = post(bad)
      val timed = post(s"$bad OPTION(timeoutMs=60000)")
      def error(json: String) = json.replaceAll(""", "timeUsedMs": \d+""", "")
      assert(plain.contains("\"errorCode\": 200") && plain.contains("DIVIDE_BY_ZERO"), plain.take(300))
      assert(error(timed) === error(plain))
    } finally broker.stop()
  }

  test("the latest-events page over an ingested table reads only the newest file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_broker_events").toFile.getAbsolutePath
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)](spark)
    val q = graft.streaming.RealtimeIngest.start(source.toDF.toDF("event_id", "ts"),
      s"$dir/events.parquet", s"$dir/ckp",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val broker = new BrokerServer(spark, dir)
    val port = broker.start()
    try {
      // four commits of time-ordered events, one part file each
      (0 until 4).foreach { b =>
        source.addData((b * 50 until (b + 1) * 50).map(i =>
          (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L))))
        q.processAllAvailable()
      }
      // the ingest_serve workload's e3_latest
      val e3 = "SELECT event_id, ts FROM events ORDER BY ts DESC LIMIT 10"
      val out = http("POST", s"http://127.0.0.1:$port/query", Some(s"""{"pql": "$e3"}"""))
      val ids = "\\[\"(\\d+)\",".r.findAllMatchIn(out).map(_.group(1).toInt).toSeq
      assert(ids == (199 to 190 by -1), out.take(400))
      // the sink writes ts as INT64 micros, whose parquet footers carry
      // min/max: the commits show a sorted layout, and the page reads
      // only the newest committed file
      val events = graft.sources.Tables.load(spark, dir, "events")
      assert(graft.sources.SortedLayout.layoutFor(events, "ts").isDefined)
      val page = graft.pql.Pql.toDataFrame(graft.pql.Pql.parse(e3),
        graft.sources.Tables.load(spark, dir, _))
      assert(page.inputFiles.length == 1 && events.inputFiles.length >= 4,
        s"${page.inputFiles.length} of ${events.inputFiles.length} files read")
    } finally { broker.stop(); q.stop() }
  }
}
