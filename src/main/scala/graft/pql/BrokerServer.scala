package graft.pql

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Graft
import graft.sources.Tables

/** PQL-over-HTTP broker endpoint — the reference's main query path
  * (`pinot-broker/.../api/resources/PinotClientRequest.java:62-103`:
  * `GET /query?pql=...` and `POST /query` with body `{"pql": "..."}`),
  * served by the JDK's built-in HttpServer so the library adds no
  * dependencies. Each request parses + compiles through [[Pql]] and
  * renders the broker response shape ([[BrokerResponse]]); failures
  * come back as the reference's `exceptions` list with HTTP 200
  * (`BaseBrokerRequestHandler.java:122-135`; codes from
  * `QueryException.java:40,44,49` — 150 parse, 200 execution,
  * 250 timeout) and every response carries `timeUsedMs`.
  *
  * `OPTION(timeoutMs=...)` is honored for real: the query runs in its
  * own Spark job group and the group is cancelled at the deadline —
  * the broker-timeout semantics the reference enforces server-side.
  *
  * The query itself is compiled on the request thread and executed by
  * Spark's scheduler across the cluster; the HTTP layer only carries
  * the (LIMIT/TOP-bounded) response, exactly like the reference's
  * broker — this class is deliberately a thin adapter, not an engine.
  *
  * Query scheduling (the reference's pluggable server-side schedulers,
  * `query/scheduler/QuerySchedulerFactory.java:40-63`): admission is
  * FCFS-bounded — a FAIR semaphore admits at most
  * `maxConcurrentQueries` at a time and queues the rest in arrival
  * order (`scheduler/fcfs/`'s bounded-runners semantics); resource
  * isolation between admitted queries maps to Spark's fair-scheduler
  * pools — `OPTION(schedulerPool=name)` assigns the query's jobs to
  * the named pool (`scheduler/tokenbucket/`'s per-group resource
  * shares, expressed as pool weights in the Spark scheduler config).
  */
final class BrokerServer(spark: SparkSession, tableDir: String, port: Int = 0,
    maxConcurrentQueries: Int = 8,
    tableQuotas: Map[String, Double] = Map.empty,
    queryResponseLimit: Int = Int.MaxValue,
    accessControl: BrokerServer.AccessControl = BrokerServer.allowAll,
    timeColumns: Map[String, String] = Map.empty,
    admissionWaitMs: Long = BrokerServer.AdmissionWaitMs) {
  require(maxConcurrentQueries > 0,
    s"maxConcurrentQueries must be positive, got $maxConcurrentQueries")
  require(admissionWaitMs > 0,
    s"admissionWaitMs must be positive, got $admissionWaitMs")
  require(tableQuotas.values.forall(_ > 0),
    s"table QPS quotas must be positive: $tableQuotas")
  // the routing rules (star-tree, dictionary, sorted page) serve every
  // query the broker plans
  Graft.enable(spark)

  private val quotaLimiters: Map[String, BrokerServer.QpsLimiter] =
    tableQuotas.map { case (t, qps) => t -> new BrokerServer.QpsLimiter(qps) }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val admission =
    new java.util.concurrent.Semaphore(maxConcurrentQueries, true)
  @volatile private var started = false

  /** Actual listen port (useful with `port = 0` auto-assign). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Int = {
    server.createContext("/query", new QueryHandler)
    // the broker's other resources (`api/resources/`):
    // PinotBrokerHealthCheck.java — GET /health → "OK";
    // PinotBrokerDebug.java — GET /debug/routingTable/{table} (segment
    // routing snapshot) and GET /debug/timeBoundary/{table}
    server.createContext("/health", BrokerServer.textHandler(_ => "OK"))
    server.createContext("/debug/routingTable/",
      BrokerServer.textHandler { path =>
        val table = path.stripPrefix("/debug/routingTable/")
        BrokerServer.routingTableJson(spark, tableDir, table)
      })
    server.createContext("/debug/timeBoundary/",
      BrokerServer.textHandler { path =>
        val table = path.stripPrefix("/debug/timeBoundary/")
        BrokerServer.timeBoundaryJson(spark, tableDir, table)
      })
    // an ELASTIC BUT BOUNDED pool: with any fixed pool of size N, N
    // concurrent query requests park every handler thread on
    // admission.tryAcquire and starve /health + /debug; a fully
    // unbounded cached pool lets a request flood grow threads without
    // limit. Core threads cover the admission cap + probes; the pool
    // stretches to a hard max under bursts (each parked thread holds
    // its slot ≤ AdmissionWaitMs before 429ing out, so the bound is
    // also a latency bound on probes under saturation), and a flood
    // beyond the max gets connection-level rejection rather than
    // taking the JVM down.
    // Past the hard max, the default AbortPolicy would throw
    // RejectedExecutionException inside the httpserver dispatcher,
    // which only logs — the flooded client's connection then hangs
    // open until timeout. Instead, rejected exchanges drain through a
    // single overflow thread; QueryHandler recognizes that thread and
    // answers 429 immediately (no admission wait — the pool being at
    // its hard max IS saturation), so every flooded request still gets
    // a prompt response and its connection closed.
    val overflowDrain = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, BrokerServer.OverflowThreadName)
        t.setDaemon(true)
        t
      })
    server.setExecutor(new java.util.concurrent.ThreadPoolExecutor(
      maxConcurrentQueries + 2, maxConcurrentQueries * 4 + 16,
      30L, TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable],
      (r: Runnable, pool: java.util.concurrent.ThreadPoolExecutor) =>
        if (!pool.isShutdown) overflowDrain.execute(r)))
    server.start()
    started = true
    boundPort
  }

  def stop(): Unit = if (started) { server.stop(0); started = false }

  private final class QueryHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // pql + optional debugOptions (`;`-separated k=v string, the
      // reference's DEBUG_OPTIONS request field)
      val (pql, debugOpts): (Option[String], Option[String]) =
        ex.getRequestMethod.toUpperCase match {
          case "GET" =>
            val raw = Option(ex.getRequestURI.getRawQuery)
            (raw.flatMap(BrokerServer.queryParam(_, "pql")),
              raw.flatMap(BrokerServer.queryParam(_, "debugOptions")))
          case "POST" =>
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            (BrokerServer.pqlFromBody(body),
              BrokerServer.debugOptionsFromBody(body))
          case _ => (None, None)
        }
      val json = pql match {
        case None => BrokerServer.exceptionJson(
          BrokerServer.JsonParsingErrorCode, "no 'pql' in request")
          .dropRight(1) + """, "timeUsedMs": 0}"""
        case Some(q) =>
          // requester identity for the access-control hook — the
          // reference's HttpRequesterIdentity carries the request URL
          // and headers (BaseBrokerRequestHandler.java:145); the
          // Authorization header is the natural single-field analog
          val identity = Option(ex.getRequestHeaders.getFirst("Authorization"))
          // a malformed debugOptions string is a REQUEST error (the
          // same contract as a malformed optimizationFlags value), not
          // something to silently drop — the client must learn their
          // option never applied
          val debugMap: Either[String, Map[String, String]] =
            try Right(debugOpts.map(FilterOptimizer.parseDebugOptions).getOrElse(Map.empty))
            catch { case e: IllegalArgumentException =>
              Left(BrokerServer.exceptionJson(BrokerServer.QueryValidationErrorCode,
                String.valueOf(e.getMessage))
                .dropRight(1) + """, "timeUsedMs": 0}""")
            }
          debugMap match {
            case Left(err) => err
            case Right(dm) =>
              // bounded admission wait: saturation answers 429 instead
              // of parking handler threads forever. On the overflow
              // drain thread (pool already at hard max) skip the wait
              // entirely — serial 2 s parks there would stack up and
              // re-create the hang the drain exists to prevent.
              val onOverflow =
                Thread.currentThread().getName == BrokerServer.OverflowThreadName
              if (onOverflow || !admission.tryAcquire(admissionWaitMs,
                  TimeUnit.MILLISECONDS))
                BrokerServer.exceptionJson(BrokerServer.TooManyRequestsErrorCode,
                  if (onOverflow) "broker thread pool saturated"
                  else "admission queue wait exceeded " +
                    s"$admissionWaitMs ms")
                  .dropRight(1) + """, "timeUsedMs": 0}"""
              else
                try BrokerServer.execute(spark, tableDir, q, quotaLimiters,
                  queryResponseLimit, accessControl, identity, dm, timeColumns)
                finally admission.release()
          }
      }
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

/** Launchable broker: `runMain graft.pql.BrokerMain <tableDir> [port]`
  * starts the PQL HTTP endpoint over the parquet tables in `tableDir`
  * and blocks — the single-process analogue of the reference's broker
  * deployment (default port 8099, `CommonConstants.Helix
  * .DEFAULT_BROKER_QUERY_PORT`). */
object BrokerMain {
  def main(args: Array[String]): Unit = {
    val tableDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val port = if (args.length > 1) args(1).toInt else 8099
    val spark = graft.LocalSession()
    val broker = new BrokerServer(spark, tableDir, port)
    val bound = broker.start()
    println(s"[broker] listening on http://127.0.0.1:$bound/query (tables: $tableDir)")
    Thread.currentThread().join() // serve until killed
  }
}

object BrokerServer {

  /** `QueryException.java:38,40,43,44,49,56,61` */
  val JsonParsingErrorCode = 100
  val PqlParsingErrorCode = 150
  val AccessDeniedErrorCode = 180
  val QueryExecutionErrorCode = 200
  val ExecutionTimeoutErrorCode = 250
  val TooManyRequestsErrorCode = 429
  val QueryValidationErrorCode = 700

  /** Max time a query may wait in the admission queue before the
    * broker answers 429 — bounds client latency, handler-thread
    * residency (and with the bounded pool, total thread count) under
    * saturation. */
  val AdmissionWaitMs = 2000L

  /** Name of the single overflow-drain thread that runs exchanges the
    * bounded pool rejected; QueryHandler answers 429 immediately on it. */
  val OverflowThreadName = "graft-broker-overflow-drain"

  /** Pluggable broker access control, the reference's
    * `AccessControlFactory.create().hasAccess(requesterIdentity,
    * brokerRequest)` hook (`BaseBrokerRequestHandler.java:72,86,145-152`):
    * called after parse and before any execution work, with the
    * requester identity (Authorization header, when present) and the
    * compiled query. Deny => error code 180, query dropped. */
  type AccessControl = (Option[String], Pql.Query) => Boolean

  /** The reference's default `AllowAllAccessControlFactory`. */
  val allowAll: AccessControl = (_, _) => true

  /** Per-table QPS quota (`QuotaConfig.maxQueriesPerSecond` enforced
    * by the broker, `BaseBrokerRequestHandler.java:189-197` via
    * `TableQueryQuotaManager.acquire`): a token bucket refilling at
    * `qps` with burst capacity max(1, qps). The clock is injectable
    * so the refill math is testable deterministically. */
  final class QpsLimiter(qps: Double, nanoTime: () => Long = System.nanoTime) {
    private val capacity = math.max(1.0, qps)
    private var available = capacity
    private var last = nanoTime()
    def tryAcquire(): Boolean = synchronized {
      val now = nanoTime()
      available = math.min(capacity, available + (now - last) * 1e-9 * qps)
      last = now
      if (available >= 1.0) { available -= 1.0; true } else false
    }
  }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"exceptions": [...]}` body WITHOUT timeUsedMs — callers append
    * it via the same path successful responses use. */
  def exceptionJson(code: Int, message: String): String =
    s"""{"exceptions": [{"errorCode": $code, "message": ${js(message)}}]}"""

  /** Minimal extractor for the one key the reference reads from the
    * POST body (`request.get(PQL).asText()`) — a full JSON parser is
    * not warranted for a single string field. Handles the standard
    * string escapes. */
  def pqlFromBody(body: String): Option[String] = {
    val m = """"pql"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(body)
    m.map(g => unescape(g.group(1)))
  }

  /** The optional `debugOptions` string field of the POST body
    * (`BaseBrokerRequestHandler.java:214-218`). */
  def debugOptionsFromBody(body: String): Option[String] = {
    val m = """"debugOptions"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(body)
    m.map(g => unescape(g.group(1)))
  }

  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => out.append('"'); i += 2
          case '\\' => out.append('\\'); i += 2
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case '/' => out.append('/'); i += 2
          case 'u' if i + 6 <= s.length =>
            out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => out.append(other); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Plain GET handler: `f(requestPath)` → JSON/text body, 200. */
  private[pql] def textHandler(f: String => String): HttpHandler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val body =
        try f(ex.getRequestURI.getPath)
        catch { case e: Exception =>
          exceptionJson(QueryExecutionErrorCode,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  /** Debug-endpoint table names feed filesystem paths — reject
    * anything that could traverse outside tableDir (`..`, separators,
    * URL-encoded or not) before building the path. */
  private def validTableName(table: String): Boolean =
    table.matches("[A-Za-z0-9_]+")

  /** The files a query of `table` reads, as `Tables.load` resolves
    * them (for a file-sink table, the committed part files only, not
    * in-flight or aborted ones), or None for an unknown table. */
  private def servedFiles(spark: SparkSession, tableDir: String,
      table: String): Option[Seq[String]] = {
    if (!validTableName(table)) return None
    val root = new org.apache.hadoop.fs.Path(s"$tableDir/$table.parquet")
    if (!root.getFileSystem(spark.sessionState.newHadoopConf()).exists(root)) None
    else Some(Tables.load(spark, tableDir, table).inputFiles.toSeq.sorted)
  }

  /** Routing snapshot (`PinotBrokerDebug.debugRoutingTable` /
    * `RoutingTable.dumpSnapshot`): which segments answer for the
    * table. Single-process analog: this broker serves every segment
    * (parquet part file) a query of the table reads, named relative
    * to the table's dataset. */
  def routingTableJson(spark: SparkSession, tableDir: String, table: String): String =
    servedFiles(spark, tableDir, table) match {
      case None => exceptionJson(QueryExecutionErrorCode, s"unknown table: $table")
      case Some(files) =>
        val root = new org.apache.hadoop.fs.Path(s"$tableDir/$table.parquet")
        val prefix = root.getFileSystem(spark.sessionState.newHadoopConf())
          .makeQualified(root).toString + "/"
        val segs = files.map(f =>
          if (f.startsWith(prefix)) f.stripPrefix(prefix)
          else new org.apache.hadoop.fs.Path(f).getName).sorted
        s"""{${js(table)}: {"localhost": ${segs.map(js).mkString("[", ",", "]")}}}"""
    }

  /** Time boundary (`PinotBrokerDebug.debugTimeBoundaryService` /
    * `TimeBoundaryService.TimeBoundaryInfo`): the max time value of
    * the files a query of the table reads, from their FOOTER stats
    * only ([[graft.sources.Minion.filesTimeRange]] — the same
    * metadata-not-rows rule the reference's service follows). */
  def timeBoundaryJson(spark: SparkSession, tableDir: String, table: String,
      timeColumn: String = "ts"): String =
    servedFiles(spark, tableDir, table) match {
      case None => exceptionJson(QueryExecutionErrorCode, s"unknown table: $table")
      case Some(files) =>
        graft.sources.Minion.filesTimeRange(spark, files, timeColumn) match {
          case Some((_, end)) =>
            s"""{"timeColumnName": ${js(timeColumn)}, "timeValue": ${js(end.toString)}}"""
          case None => exceptionJson(QueryExecutionErrorCode,
            s"no footer time stats for $table.$timeColumn")
        }
    }

  /** First value of `name` in a raw query string. */
  def queryParam(rawQuery: String, name: String): Option[String] =
    rawQuery.split('&').iterator
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        URLDecoder.decode(v, StandardCharsets.UTF_8)
      }

  /** Parse, compile, execute, render — one broker request. Returns the
    * response JSON (never throws; errors map to the exceptions list). */
  def execute(spark: SparkSession, tableDir: String, pql: String,
      quotas: Map[String, QpsLimiter] = Map.empty,
      queryResponseLimit: Int = Int.MaxValue,
      accessControl: AccessControl = allowAll,
      identity: Option[String] = None,
      debugOptions: Map[String, String] = Map.empty,
      timeColumns: Map[String, String] = Map.empty): String = {
    val t0 = System.nanoTime()
    def withTime(json: String): String =
      json.dropRight(1) +
        s""", "timeUsedMs": ${(System.nanoTime() - t0) / 1000000}}"""
    // parse, then run the broker-side filter-tree optimizers under the
    // request's optimizationFlags (BrokerRequestOptimizer.optimize runs
    // post-parse, pre-routing; a malformed flag list is a request
    // error, not a server error)
    val parsed: Either[String, Pql.Query] =
      (try Right(Pql.parse(pql))
      catch { case e: IllegalArgumentException =>
        Left(exceptionJson(PqlParsingErrorCode, String.valueOf(e.getMessage)))
      }).flatMap { q0 =>
        try {
          val flags = debugOptions.get("optimizationFlags")
            .filter(_.nonEmpty).map(FilterOptimizer.parseFlags)
          Right(q0.copy(where = q0.where.map(w =>
            FilterOptimizer.optimize(w, timeColumns.get(q0.table), flags))))
        } catch { case e: IllegalArgumentException =>
          Left(exceptionJson(QueryValidationErrorCode,
            String.valueOf(e.getMessage)))
        }
      }
    parsed match {
      case Left(err) => withTime(err)
      // table access check right after compilation, before any other
      // work (BaseBrokerRequestHandler.java:145-152; deny => code 180)
      case Right(q) if !accessControl(identity, q) =>
        withTime(exceptionJson(AccessDeniedErrorCode,
          s"AccessDeniedError: permission denied for table:${q.table}"))
      // broker-side request validation (validateRequest,
      // BaseBrokerRequestHandler.java:319-335): TOP for group-by and
      // LIMIT for selection are REJECTED past the configured response
      // limit — the driver never materializes an over-limit result
      case Right(q) if q.groupBy.nonEmpty && q.top.exists(_ > queryResponseLimit) =>
        withTime(exceptionJson(QueryValidationErrorCode,
          s"Value for 'TOP' (${q.top.get}) exceeds maximum allowed value of $queryResponseLimit"))
      case Right(q) if !Pql.isAggregationQuery(q) &&
          q.limit.exists(_._2 > queryResponseLimit) =>
        withTime(exceptionJson(QueryValidationErrorCode,
          s"Value for 'LIMIT' (${q.limit.get._2}) exceeds maximum allowed value of $queryResponseLimit"))
      // QPS quota before any execution work, exactly where the
      // reference validates it (post-parse, pre-execute)
      case Right(q) if quotas.get(q.table).exists(!_.tryAcquire()) =>
        withTime(exceptionJson(TooManyRequestsErrorCode,
          s"QuotaExceededError: request exceeds query quota for table:${q.table}"))
      case Right(q) =>
        val timeoutMs = q.options.get("timeoutMs").flatMap(_.toLongOption)
        // the reference's PRESERVE_TYPE query option: native JSON
        // types instead of stringified values
        val preserve = q.options.get("preserveType").exists(_.equalsIgnoreCase("true"))
        // the reference's TRACE option: per-operator execution metrics
        // in the response's traceInfo map
        val trace = q.options.get("trace").exists(_.equalsIgnoreCase("true"))
        // fair-scheduler pool assignment (inheritable local property —
        // the timeout executor thread inherits it too)
        val pool = q.options.get("schedulerPool")
        pool.foreach(p =>
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", p))
        try {
          val df = Pql.toDataFrame(q, Tables.load(spark, tableDir, _))
          val body = timeoutMs match {
            case None => BrokerResponse.render(q, df, preserve, trace)
            case Some(ms) => renderWithTimeout(spark, q, df, ms, preserve, trace)
          }
          withTime(body)
        } catch {
          case _: TimeoutException =>
            withTime(exceptionJson(ExecutionTimeoutErrorCode,
              s"query timed out after ${timeoutMs.getOrElse(0L)} ms"))
          case e: Exception =>
            withTime(exceptionJson(QueryExecutionErrorCode,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        } finally pool.foreach(_ =>
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null))
    }
  }

  /** Execute under a cancellable job group with a deadline — the
    * reference's broker timeout. interruptOnCancel interrupts running
    * tasks; the waiting thread gets a TimeoutException. */
  private def renderWithTimeout(spark: SparkSession, q: Pql.Query,
      df: org.apache.spark.sql.DataFrame, ms: Long,
      preserveType: Boolean, trace: Boolean = false): String = {
    val group = s"graft-broker-${java.util.UUID.randomUUID()}"
    val pool = Executors.newSingleThreadExecutor()
    try {
      val fut = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          spark.sparkContext.setJobGroup(group, s"broker pql (timeout ${ms}ms)",
            interruptOnCancel = true)
          try BrokerResponse.render(q, df, preserveType, trace)
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try fut.get(ms, TimeUnit.MILLISECONDS)
      catch {
        case e: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          throw e
        case e: java.util.concurrent.ExecutionException =>
          throw new RuntimeException(e.getCause)
      }
    } finally pool.shutdownNow()
  }
}
