package graftbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Graft
import graft.plans.{DictLayout, DictRegistry, StarTree, StarTreeRegistry}
import graft.pql.{BrokerResponse, BrokerServer, FilterOptimizer, Pql}
import graft.queries.ScaleTable
import graft.sources.Tables

/** Command-line options (passed by brokerbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, ramMb: Long, heapMb: Long, traceDir: String)

/** Result of one request in the timed window. */
final case class Outcome(shape: String, rttMs: Double, ok: Boolean, rejected: Boolean,
    serverMs: Long, endNs: Long)

/** What the traced replay learnt about one request. */
final case class Replayed(req: Long, selection: Boolean, routed: Boolean, files: Int,
    resultRows: Int)

/** Wraps each layer call of a replayed request: a span in the traced pass,
  * nothing in the untraced one. */
trait Phases { def apply[T](name: String)(f: => T): T }

object Main {
  val OntimeRows = 100000L
  val OntimeFiles = 8
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = Map("serve_routed" -> 3, "ingest_serve" -> 3)
  val WarmupSeconds = 2.0
  /** ingest_serve's window opens when the ingest is this old, so every run
    * queries a table of the same size however long its set-up took. */
  val WindowAtIngestAgeSeconds = 10.0
  /** Length of serve_routed's warm-up loop, its freshness window. */
  val FreshnessSeconds = 6.0
  /** The ingest per workload: (rows per event file, mean gap between
    * files in ms, trigger in ms), 2,000 rows/s offered on both.
    * ingest_serve's ingest competes with its query clients for the whole
    * window: one-file micro-batches under a 500 ms trigger keep each
    * commit to one task and the events table to about one file a second.
    * serve_routed's runs beside the untimed warm-up only, where smaller,
    * more frequent files give its short freshness window enough samples. */
  val Ingest = Map("serve_routed" -> (1000, 500L, 1000L), "ingest_serve" -> (2000, 1000L, 500L))
  /** Closed-loop HTTP clients per workload (at most nproc in total). */
  val Clients = Map("serve_routed" -> 2, "ingest_serve" -> 3)

  /** The star-trees BenchScale's native section declares:
    * (dims, metrics, sketch lgK). */
  val TreeSpecs: Seq[(Seq[String], Seq[String], Int)] = Seq(
    (Seq("Cancelled", "Carrier", "Origin", "Dest"), Seq("ArrDelay", "DepDelay"), 0),
    (Seq("OriginState", "DepDelay"), Seq("ArrDelay"), 0),
    (Seq("Carrier"), Seq("FlightNum"), 12),
    (Seq("Cancelled", "Origin", "Dest"), Seq("ArrDelay", "DepDelay"), 0))
  val DictColumns = Seq("Carrier", "Origin", "Dest", "OriginState")
  /** The native table's physical order (BenchScale's time-sorted copy),
    * which the dictionary layout keeps (`layoutBy`). */
  val NativeOrder = Seq("DaysSinceEpoch", "FlightNum")
  /** Shapes the native layout answers from a star-tree. */
  val TreeShapes = Set("a2_agg_1pred", "a3_agg_2pred", "a4_groupby_1dim", "a5_groupby_2dim", "h1_hll")

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), need("ram-mb").toLong, need("heap-mb").toLong,
      need("trace-dir"))
    require(Clients.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be positive")
    o
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]").appName("brokerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.root}/hadoop-tmp")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try new Run(spark, o, cores).run()
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    System.exit(code)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** `xs.map(f)` on `threads` threads, order kept. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get)
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    finally pool.shutdownNow()
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

final class Run(spark: SparkSession, o: Opts, cores: Int) {
  import Main._

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(s: String): Unit =
    System.err.println(f"[brokerbench +${(System.currentTimeMillis() - t0Ms) / 1e3}%.1fs] $s")
  private val rnd = new Random(o.seed)
  private val failures = new ConcurrentLinkedQueue[String]
  private val attempted = new AtomicLong
  private def fail(what: String): Unit = {
    if (failures.size < 20) log(s"FAILED: $what")
    failures.add(what); ()
  }

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val tableDir = s"${o.root}/tables"
  private val factPath = s"$tableDir/ontime.parquet"

  // ---- setup ---------------------------------------------------------------

  /** Serving state of one setup repetition. */
  private final case class State(dir: String, register: () => Unit, dictPath: String,
      stream: Option[EventStream])

  private def newStream(dir: String): EventStream = {
    val (rowsPerFile, gapMs, triggerMs) = Ingest(o.workload)
    val es = new EventStream(spark, s"$dir/stream", tableDir, o.seed, rowsPerFile, gapMs, triggerMs)
    es.start()
    require(es.awaitCommitted(rowsPerFile, 60000), "no streaming commit within 60 s")
    es
  }

  /** The native layout's indexes, as BenchScale's native section builds
    * them: the star-trees, and the dictionary layout over the time-sorted
    * fact table, range-partitioned on the same order. */
  private def buildIndexes(dir: String): State = {
    val fact = spark.read.parquet(factPath)
    val dictPath = s"$dir/idx/dict"
    // the four trees and the dictionary layout are independent: build
    // them side by side
    val built = parMap(TreeSpecs.zipWithIndex.map(Some(_)) :+ None, cores) {
      case Some(((dims, metrics, lgK), i)) =>
        val path = s"$dir/idx/startree_$i"
        StarTree.build(fact, dims, metrics, sketchLgK = lgK).rollup.write.parquet(path)
        Left(StarTree.Index(dims, metrics, spark.read.parquet(path), lgK, 0))
      case None =>
        Right(DictLayout.build(spark, fact, factPath, dictPath, DictColumns, layoutBy = NativeOrder))
    }
    val trees = built.collect { case Left(t) => t }
    val dict = built.collectFirst { case Right(d) => d }.get
    State(dir, () => {
      Graft.enable(spark)
      trees.foreach(StarTreeRegistry.register(factPath, _))
      DictRegistry.register(factPath, dict)
    }, dictPath, None)
  }

  /** One set-up of the serving state from the generated inputs: the
    * native layout's indexes for serve_routed, the ingest up to its first
    * commit for ingest_serve. */
  private def setupOnce(rep: Int): State = {
    val dir = s"${o.root}/rep$rep"
    o.workload match {
      case "serve_routed" => buildIndexes(dir)
      case "ingest_serve" =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
        State(dir, () => (), "", Some(newStream(dir)))
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  /** The generated OnTime table, cached in memory for the expected answers
    * (an unrouted scan: no index can match an in-memory relation), and
    * written as the served native table: sorted on [[Main.NativeOrder]]
    * into range-disjoint files, like BenchScale's time-sorted copy. */
  private def generateOntime(): DataFrame = {
    val gen = ScaleTable.frame(spark, OntimeRows, o.seed).coalesce(cores).cache()
    gen.repartitionByRange(OntimeFiles, NativeOrder.map(col): _*)
      .sortWithinPartitions(NativeOrder.map(col): _*).write.parquet(factPath)
    gen
  }

  // ---- requests --------------------------------------------------------------

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** Per-client state: the last `COUNT(*)` over events it saw. */
  private final class ClientState(val rnd: Random) {
    var lastCount = 0L
    private var block = List.empty[Int]
    /** Shapes come in seeded shuffled blocks, so every window holds each
      * shape in (nearly) equal share. */
    def nextShape(n: Int): Int = {
      if (block.isEmpty) block = rnd.shuffle((0 until n).toList)
      val h = block.head
      block = block.tail
      h
    }
  }

  /** Judge a rendered response: the answer, or (rejected with 429, why). */
  private def judge(req: Request, body: String, st: ClientState,
      stream: Option[EventStream]): Either[(Boolean, String), Answer] =
    Answer.parse(body) match {
      case Left((code, msg)) =>
        Left((code == BrokerServer.TooManyRequestsErrorCode, s"${req.shape}: error $code $msg"))
      case Right(a) =>
        val verdict = req.check match {
          case EventsCheck(shape) => stream.toRight("no event stream to judge against")
            .flatMap(_.verify(shape, req.pql, a, st.lastCount))
            .map { c => st.lastCount = c; () }
          case _ => Requests.verify(req, a).toLeft(())
        }
        verdict.left.map(why => (false, s"${req.shape} [${req.pql}]: $why")).map(_ => a)
    }

  private def viaHttp(port: Int, req: Request, st: ClientState,
      stream: Option[EventStream]): Outcome = {
    attempted.incrementAndGet()
    val uri = URI.create(s"http://127.0.0.1:$port/query?pql=" +
      java.net.URLEncoder.encode(req.pql, StandardCharsets.UTF_8))
    val t0 = System.nanoTime()
    try {
      val resp = http.send(HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val t1 = System.nanoTime()
      val rtt = (t1 - t0) / 1e6
      if (resp.statusCode != 200) {
        fail(s"${req.shape}: HTTP ${resp.statusCode}")
        Outcome(req.shape, rtt, ok = false, rejected = false, -1, t1)
      } else judge(req, resp.body, st, stream) match {
        case Right(a) => Outcome(req.shape, rtt, ok = true, rejected = false, a.timeUsedMs, t1)
        case Left((rejected, why)) =>
          fail(why); Outcome(req.shape, rtt, ok = false, rejected, -1, t1)
      }
    } catch { case e: Exception =>
      val t1 = System.nanoTime()
      fail(s"${req.shape}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      Outcome(req.shape, (t1 - t0) / 1e6, ok = false, rejected = false, -1, t1)
    }
  }

  /** Run `clients` closed-loop clients for `seconds`; each replays the
    * same seeded request stream on every call. Returns outcomes and the
    * window's wall length in seconds. */
  private def closedLoop(clients: Int, seconds: Double)(
      one: ClientState => Outcome): (Seq[Outcome], Double) = {
    val out = new ConcurrentLinkedQueue[Outcome]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val st = new ClientState(new Random(o.seed * 1000003L + c))
        while (System.nanoTime() < deadline) out.add(one(st))
      }, s"graftbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val outs = out.asScala.toSeq
    val end = (start +: outs.map(_.endNs)).max
    (outs, (end - start) / 1e9)
  }

  private def scanRoots(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => scanRoots(a.inputPlan)
    case s: QueryStageExec => scanRoots(s.plan)
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case other => other.children.flatMap(scanRoots) ++ other.subqueries.flatMap(scanRoots)
  }

  private def readsOnly(roots: Seq[String], part: String): Boolean =
    roots.nonEmpty && roots.forall(_.contains(part))

  /** BenchScale.runNative's routing checks, on each distinct request as the
    * broker compiles it: a2-a5 and h1 read a star-tree only; s3 reads the
    * dictionary layout; s2 composes the sorted read with the dictionary
    * layout, prunes its files and decodes after the page cut. */
  private def checkRoutes(pool: Seq[Request], dictPath: String): Unit = {
    val dictFiles = spark.read.parquet(dictPath).inputFiles.length
    pool.foreach { req =>
      attempted.incrementAndGet()
      val df = Pql.toDataFrame(req.query, Tables.load(spark, tableDir, _))
      val roots = scanRoots(df.queryExecution.executedPlan)
      val why = req.shape match {
        case s if TreeShapes(s) =>
          Option.when(!readsOnly(roots, "/idx/startree_"))("did not route to a star-tree")
        case "s3_point_topn" =>
          Option.when(!readsOnly(roots, "/idx/dict"))("did not route to the dictionary layout")
        case "s2_page" =>
          if (!readsOnly(roots, "/idx/dict"))
            Some("did not compose the sorted read with the dictionary layout")
          else if (df.inputFiles.length >= dictFiles)
            Some(s"ordered read did not prune (${df.inputFiles.length}/$dictFiles files)")
          else Option.when(!df.queryExecution.optimizedPlan.toString.contains("dict_decode"))(
            "page does not late-decode dictionary values")
        case other => Some(s"no routing expectation for shape $other")
      }
      why.foreach(w => fail(s"${req.shape} [${req.pql}]: $w; scans ${roots.mkString(", ")}"))
    }
  }

  // ---- the run ---------------------------------------------------------------

  def run(): Int = {
    log("env " + Seq(
      s""""nproc":$cores""", s""""ram_mb":${o.ramMb}""", s""""heap_mb":${o.heapMb}""",
      s""""java":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
      s""""spark":"${spark.version}"""", s""""scala":"${scala.util.Properties.versionNumberString}"""",
      s""""workload":"${o.workload}"""", s""""seed":${o.seed}""", s""""seconds":${o.seconds}""",
      s""""trace":${o.trace}""").mkString("{", ",", "}"))

    // expected answers come from the unrouted scan of the generated
    // rows, computed before anything is built or registered
    val pool: Seq[Request] = o.workload match {
      case "serve_routed" =>
        val gen = generateOntime()
        log("ontime written")
        try Requests.withExpected(_ => gen,
          Requests.routedTexts(rnd).map { case (s, ts) => (s, "ontime", ts) }, cores)
        finally { gen.unpersist(); () }
      case "ingest_serve" => Requests.eventRequests(rnd)
    }
    val byShape = pool.groupBy(_.shape).toSeq.sortBy(_._1).map(_._2)
    def pick(st: ClientState): Request = {
      val rs = byShape(st.nextShape(byShape.size))
      rs(st.rnd.nextInt(rs.size))
    }
    log(s"pool: ${pool.size} distinct requests over ${byShape.size} shapes")

    // set up SetupReps times from scratch; keep the last, report the median
    val reps = SetupReps(o.workload)
    val timed = (1 to reps).map { rep =>
      val (s, t) = secs(setupOnce(rep))
      if (rep < reps) {
        s.stream.foreach { es => es.stop(); deleteTree(new java.io.File(es.segmentDir)) }
        deleteTree(new java.io.File(s.dir))
      }
      (s, t)
    }
    val state = timed.last._1
    val setupS = median(timed.map(_._2))
    log(f"setup reps ${timed.map(t => f"${t._2}%.3f").mkString(" ")} s")
    state.register()

    // writes beside reads. ingest_serve queries the live events table, so
    // its freshness window is the query window. serve_routed runs the
    // ingest beside its untimed warm-up loop and drains it before the
    // window opens, so the ingest never competes with the timed queries.
    var stream = state.stream
    var ingest = Option.empty[Ingested]
    val broker = new BrokerServer(spark, tableDir)
    val port = broker.start()
    val clients = Clients(o.workload)
    var metrics = Seq.empty[(String, Double, String)]
    try {
      if (stream.isEmpty) stream = Some(newStream(state.dir))
      val warmFromMs = System.currentTimeMillis()
      if (o.workload == "serve_routed") checkRoutes(pool, state.dictPath)
      // untimed warm-up: every shape once, each request checked
      parMap(byShape.map(_.head), cores)(req => viaHttp(port, req, new ClientState(rnd), stream))
      // then the same closed loop, untimed, until JIT and stream settle
      val warmS =
        if (state.stream.isEmpty) FreshnessSeconds
        else math.max(WarmupSeconds, WindowAtIngestAgeSeconds - stream.get.ageSeconds)
      closedLoop(clients, warmS)(st => viaHttp(port, pick(st), st, stream))
      if (state.stream.isEmpty) {
        ingest = Some(ingested(stream.get, warmFromMs, System.currentTimeMillis()))
        stream.foreach(_.stop())
        stream = None
      }
      log(f"warm-up done ($warmS%.1f s loop)" + stream.fold("")(es => s", ${es.moved} event files"))

      System.gc()
      val gc0 = gcMs()
      val winStartMs = System.currentTimeMillis()
      val window =
        if (!o.trace) Left(closedLoop(clients, o.seconds)(st => viaHttp(port, pick(st), st, stream)))
        else Right(traced(port, stream, pick, clients))
      val winEndMs = System.currentTimeMillis()
      val gc = gcMs() - gc0
      val liveMb = liveHeapMb()

      val ing = ingest.getOrElse(ingested(stream.get, winStartMs, winEndMs))
      val fresh = ing.fresh
      metrics = window match {
        case Left((outs, len)) =>
          val lat = outs.map(_.rttMs)
          log(f"window ${len}%.2f s, ${outs.size} requests, gc ${gc} ms, " +
            f"${fresh.size} freshness samples; per shape p50 ms: " +
            outs.groupBy(_.shape).toSeq.sortBy(_._1).map { case (s, os) =>
              f"$s=${median(os.map(_.rttMs))}%.1f(n=${os.size})" }.mkString(" "))
          Seq(
            ("setup_s", setupS, "s"),
            ("qps", outs.count(_.ok) / len, "1/s"),
            ("latency_p50_ms", median(lat), "ms"),
            ("latency_p95_ms", percentile(lat, 0.95), "ms"),
            ("freshness_p50_ms", if (fresh.isEmpty) -1 else median(fresh), "ms"),
            ("freshness_p95_ms", if (fresh.isEmpty) -1 else percentile(fresh, 0.95), "ms"),
            ("live_heap_mb", liveMb, "MB"))
        case Right(t) => perLayer(t, ing, gc)
      }
    } finally {
      broker.stop()
      stream.foreach(_.stop())
    }
    log("stopped")
    val ok = failures.isEmpty
    val attemptedN = math.max(1L, attempted.get)
    println(s"""{"correct": $ok, "attempted": $attemptedN, "failed": ${failures.size}, "metrics": """ +
      metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
        .mkString("{", ", ", "}") + "}")
    if (ok) 0 else 1
  }

  /** Heap in use just after a forced full GC: each heap pool's usage as
    * that collection left it, so allocation after it does not count. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** What the ingest did in one freshness window: the freshness samples of
    * the files moved in it, how many of those were uncommitted at its end,
    * and its micro-batches. */
  private final case class Ingested(fresh: Seq[Double], backlog: Int,
      batches: Seq[StreamingQueryProgress])

  /** Stop the generator, wait until every generated row is committed,
    * check exactly-once, and collect the window [fromMs, toMs]. */
  private def ingested(stream: EventStream, fromMs: Long, toMs: Long): Ingested = {
    stream.stopGenerator()
    attempted.incrementAndGet()
    if (!stream.awaitCommitted(stream.rowsMoved, 60000))
      fail(s"ingest did not drain: ${stream.committedRows} of ${stream.rowsMoved} rows committed")
    else stream.exactlyOnce().foreach(fail)
    val (fresh, backlog) = stream.freshness(fromMs, toMs)
    if (fresh.size < 10) fail(s"only ${fresh.size} freshness samples in the window")
    Ingested(fresh, backlog, stream.batchesIn(fromMs, toMs))
  }

  // ---- traced run ------------------------------------------------------------

  /** What the traced window measured. */
  private final case class TracedWindow(http: Seq[Outcome], httpLen: Double,
      plain: Seq[Outcome], plainLen: Double, traced: Seq[Outcome], tracedLen: Double,
      tracer: Tracer, counter: JobCounter, replayed: Seq[Replayed])

  private object Untraced extends Phases {
    def apply[T](name: String)(f: => T): T = f
  }

  /** One request through the layers' public functions, the path the
    * broker takes: `Tables.load` → `Pql.parse` → `Pql.toDataFrame` →
    * `executedPlan` → `BrokerResponse.render`. Returns the compiled frame,
    * its plan and the judged answer. */
  private def replay(req: Request, st: ClientState, stream: Option[EventStream],
      phase: Phases): (org.apache.spark.sql.DataFrame, SparkPlan, Either[(Boolean, String), Answer]) = {
    val base = phase("sources.load")(Tables.load(spark, tableDir, req.table))
    val q = phase("pql.parse") {
      val q0 = Pql.parse(req.pql)
      q0.copy(where = q0.where.map(FilterOptimizer.optimize(_, None, None)))
    }
    val df = phase("pql.compile")(Pql.toDataFrame(q, _ => base))
    val plan = phase("plans.plan")(df.queryExecution.executedPlan)
    val body = phase("exec.render")(BrokerResponse.render(q, df, false, false))
    (df, plan, judge(req, body, st, stream))
  }

  /** Traced window, in three equal parts over the same seeded request
    * streams: the broker over HTTP (broker layer), then the in-process
    * replay untraced, then the same replay traced (a span per layer call,
    * jobs and tasks tagged per request). The two replay parts differ only
    * in the tracing, so their qps is the tracing overhead. */
  private def traced(port: Int, stream: Option[EventStream], pick: ClientState => Request,
      clients: Int): TracedWindow = {
    val part = o.seconds / 3.0
    val (httpOuts, httpLen) =
      closedLoop(clients, part)(st => viaHttp(port, pick(st), st, stream))

    val (plainOuts, plainLen) = closedLoop(clients, part) { st =>
      val req = pick(st)
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      val ok = try replay(req, st, stream, Untraced)._3 match {
        case Right(_) => true
        case Left((_, why)) => fail(why); false
      } catch { case e: Exception =>
        fail(s"${req.shape}: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
      }
      val t1 = System.nanoTime()
      Outcome(req.shape, (t1 - t0) / 1e6, ok, rejected = false, -1, t1)
    }

    val tracer = new Tracer
    val counter = new JobCounter
    val replayed = new ConcurrentLinkedQueue[Replayed]
    val reqIds = new AtomicLong
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    val (tracedOuts, tracedLen) = closedLoop(clients, part) { st =>
      val req = pick(st)
      val id = reqIds.incrementAndGet()
      val root = tracer.nextId()
      attempted.incrementAndGet()
      sc.setLocalProperty(JobCounter.ReqKey, id.toString)
      val spans = new Phases {
        def apply[T](name: String)(f: => T): T = {
          sc.setLocalProperty(JobCounter.PhaseKey, name)
          tracer.span(id, root, name)(f)
        }
      }
      val t0 = System.nanoTime()
      val ok = try {
        val (df, plan, verdict) = replay(req, st, stream, spans)
        verdict match {
          case Right(a) =>
            val routed = readsOnly(scanRoots(plan), "/idx/")
            replayed.add(Replayed(id, req.selection, routed, df.inputFiles.length, a.rows.size)); true
          case Left((_, why)) => fail(why); false
        }
      } catch { case e: Exception =>
        fail(s"${req.shape}: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
      } finally {
        sc.setLocalProperty(JobCounter.ReqKey, null)
        sc.setLocalProperty(JobCounter.PhaseKey, null)
      }
      val t1 = System.nanoTime()
      tracer.add(Span(root, -1, id, "request", t0, t1))
      Outcome(req.shape, (t1 - t0) / 1e6, ok, rejected = false, -1, t1)
    }
    counter.settle()
    sc.removeSparkListener(counter)
    log(f"traced: http ${httpOuts.size} requests in $httpLen%.2f s, untraced replay " +
      f"${plainOuts.size} in $plainLen%.2f s, traced replay ${tracedOuts.size} in $tracedLen%.2f s")
    TracedWindow(httpOuts, httpLen, plainOuts, plainLen, tracedOuts, tracedLen,
      tracer, counter, replayed.asScala.toSeq)
  }

  /** The per-layer metrics of a traced window and of the ingest's
    * freshness window. */
  private def perLayer(t: TracedWindow, ing: Ingested, gc: Long): Seq[(String, Double, String)] = {
    val reps = t.replayed
    val batches = ing.batches
    val spans = t.tracer.all.filter(s => s.parent >= 0).groupBy(_.name)
    def spanMs(name: String, keep: Long => Boolean = _ => true): Double = {
      val xs = spans.getOrElse(name, Nil).filter(s => keep(s.req)).map(_.ms)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val selReqs = reps.filter(_.selection).map(_.req).toSet
    val aggReqs = reps.filterNot(_.selection).map(_.req).toSet
    def perReq(phase: String)(f: Counts => Long): Double =
      mean(reps.map(r => f(t.counter.of(r.req, phase)).toDouble))
    val exec = "exec.render"
    def dur(key: String): Double =
      if (batches.isEmpty) 0.0
      else median(batches.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val overhead = t.http.filter(o => o.ok && o.serverMs >= 0).map(o => o.rttMs - o.serverMs)
    def qps(outs: Seq[Outcome], len: Double): Double = outs.count(_.ok) / len

    t.tracer.write(java.nio.file.Paths.get(o.traceDir, s"${o.workload}-seed${o.seed}.jsonl"), t.counter,
      s"""{"workload":"${o.workload}","seed":${o.seed},"seconds":${o.seconds},"nproc":$cores}""")
    Seq(
      ("broker.http_overhead_ms", if (overhead.isEmpty) 0.0 else median(overhead), "ms"),
      ("broker.rejected", t.http.count(_.rejected).toDouble, "count"),
      ("sources.load_ms", spanMs("sources.load"), "ms"),
      ("sources.files_per_load", mean(reps.map(_.files.toDouble)), "count"),
      ("pql.parse_ms", spanMs("pql.parse"), "ms"),
      ("pql.compile_ms", spanMs("pql.compile"), "ms"),
      ("pql.compile_jobs", perReq("pql.compile")(_.jobs), "count"),
      ("plans.plan_ms", spanMs("plans.plan"), "ms"),
      ("plans.routed_frac", if (reps.isEmpty) 0.0 else reps.count(_.routed).toDouble / reps.size, "ratio"),
      ("exec.ms.agg", spanMs(exec, aggReqs), "ms"),
      ("exec.ms.sel", spanMs(exec, selReqs), "ms"),
      ("exec.jobs", perReq(exec)(_.jobs), "count"),
      ("exec.tasks", perReq(exec)(_.tasks), "count"),
      ("exec.scan_rows", perReq(exec)(_.recordsRead), "count"),
      ("exec.scan_bytes", perReq(exec)(_.bytesRead), "bytes"),
      ("exec.shuffle_bytes", perReq(exec)(_.shuffleBytes), "bytes"),
      ("exec.result_rows", mean(reps.map(_.resultRows.toDouble)), "count"),
      ("exec.task_cpu_ms", perReq(exec)(_.cpuNs) / 1e6, "ms"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.rows_per_batch", mean(batches.map(_.numInputRows.toDouble)), "count"),
      ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("streaming.backlog_files_end", ing.backlog.toDouble, "count"),
      ("jvm.gc_ms", gc.toDouble, "ms"),
      ("trace.qps_untraced", qps(t.plain, t.plainLen), "1/s"),
      ("trace.qps_traced", qps(t.traced, t.tracedLen), "1/s"))
  }
}
