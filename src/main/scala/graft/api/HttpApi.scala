package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.TimeSeries
import graft.sources.Prompb
import graft.storage.Storage
import java.net.InetSocketAddress
import org.apache.spark.sql.SparkSession
import org.xerial.snappy.Snappy

/** The Prometheus remote read/write wire protocol over HTTP — the S1/S2
  * entry points (reference: handlers/prom.go:232-310, routes
  * cmd/promhouse/main.go:76-77): snappy-compressed protobuf bodies,
  * `POST /write` = WriteRequest, `POST /read` = ReadRequest → ReadResponse.
  *
  * The handler is edge plumbing only: decode → DataFrame pipeline →
  * encode. Uses the JDK's built-in HTTP server — the wire layer is not the
  * scaling dimension (queries are); a production deployment would front
  * this with any HTTP stack and call the same Storage API.
  *
  * Operational surface past the wire endpoints (the reference wraps every
  * route in pprof labels + logging, handlers/prom.go:209-227, and runs a
  * second debug listener, cmd/promhouse/main.go:158): JVM-idiomatic
  * equivalents on the same listener —
  *   - `GET /debug/vars`    — JSON of the `/metrics` values + JVM heap/GC/
  *     thread gauges (the expvar analogue);
  *   - `GET /debug/threads` — live thread dump (the pprof-goroutine
  *     analogue; `jcmd`/JFR cover CPU profiling out-of-process, the JVM's
  *     native pprof story);
  *   - `requestLog = true`  — one line per request (method, path, status,
  *     series/query counts, ms), the wrap() middleware analogue.
  *
  * @param serveDerivedHintsOnWire opt-in: also serve rate/increase/delta
  *   hints as derived per-bucket samples. OFF by default — a stock
  *   Prometheus client treats hints as advisory and re-applies the func
  *   over returned samples (rate over rate values = rate-of-rate), so
  *   those hints are stripped at this edge (raw samples, exactly what the
  *   reference returns, prom.go:184-186). Enable only for pushdown-aware
  *   callers that consume the derived buckets directly.
  */
final class HttpApi(spark: SparkSession, store: Storage, port: Int = 0,
    serveDerivedHintsOnWire: Boolean = false, requestLog: Boolean = false,
    fuzzCorpusDir: Option[String] = None) {

  /** Fuzz-corpus harvesting from REAL traffic (the reference's
    * gofuzz_enabled.go:36-44 trick, a build-tag there, a flag here):
    * every successfully received wire body lands content-addressed under
    * `<dir>/{write,read}/<sha1>.bin`, so the codec's fuzz/property seeds
    * grow from production shapes instead of hand-written fixtures.
    * Content addressing makes harvesting idempotent and bounded by
    * distinct payloads; failures are swallowed (harvesting must never
    * fail a request). */
  private def harvest(kind: String, body: Array[Byte]): Unit =
    fuzzCorpusDir.foreach { dir =>
      try {
        val d = java.nio.file.Paths.get(dir, kind)
        java.nio.file.Files.createDirectories(d)
        val name = java.security.MessageDigest.getInstance("SHA-1")
          .digest(body).map("%02x".format(_)).mkString
        val p = d.resolve(s"$name.bin")
        if (!java.nio.file.Files.exists(p)) java.nio.file.Files.write(p, body)
      } catch { case _: Exception => () }
    }

  // A7 running counter; atomic — concurrent /write handlers increment it
  // (the reference uses a prometheus Counter, which is atomic too)
  private val samplesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  private val readRequests = new java.util.concurrent.atomic.AtomicLong(0L)
  private val writeRequests = new java.util.concurrent.atomic.AtomicLong(0L)
  // per endpoint: latency of every request answered, and answers by
  // status (400s counted whether or not requestLog is on)
  private val endpoints = Seq("/read", "/write")
  private val latency = endpoints.map(_ -> new HttpApi.Histogram(HttpApi.LatencyBuckets)).toMap
  private val answered = (for (e <- endpoints; code <- Seq(200, 400))
    yield (e, code) -> new java.util.concurrent.atomic.AtomicLong(0L)).toMap
  def totalSamplesWritten: Long = samplesWritten.get()
  // the Spark work of this server's requests: their threads tag every job
  // they submit with this server's id, so other users of the SparkContext
  // are not counted; listened to from start() to stop(), so a server
  // stopped without being started never touches the session
  private val sparkWork = new HttpApi.SparkWork(java.util.UUID.randomUUID().toString)
  @volatile private var listening = false

  HttpApi.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // without an executor the JDK server runs every handler on its single
  // dispatch thread — concurrent scrapes/queries would serialize (the
  // reference gets a goroutine per request from net/http)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))
  server.createContext("/write", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = respond(ex, "/write") {
      val body = Snappy.uncompress(ex.getRequestBody.readAllBytes())
      harvest("write", body)
      val series = Prompb.decodeWriteRequest(body)
      writeRequests.incrementAndGet()
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
      write(series)
      samplesWritten.addAndGet(series.map(_.samples.size).sum.toLong)
      (s"${series.size} series", Array.emptyByteArray)
    }
  })
  server.createContext("/read", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = respond(ex, "/read") {
      val body = Snappy.uncompress(ex.getRequestBody.readAllBytes())
      harvest("read", body)
      val decoded = Prompb.decodeReadRequest(body)
      val queries =
        if (serveDerivedHintsOnWire) decoded else decoded.map(Storage.sanitizeWireHints)
      readRequests.incrementAndGet()
      // Concurrent-query fairness: every request's Spark jobs run in a
      // scheduler pool named by the request's shape (HttpApi.poolFor), so
      // under FAIR mode (`--scheduler-pools`) a bulk export cannot
      // head-of-line-block a dashboard query — the reference gets this
      // from a goroutine per request against a 75-conn pool
      // (handlers/prom.go:209-227, cmd/promhouse/main.go:160); on Spark
      // the executor slots are the shared resource and pools are the
      // fairness mechanism. Local properties are per-thread (one thread
      // per request from the cached pool) and inherited by the jobs the
      // handler submits; under the default FIFO scheduler the property
      // is inert, so pool tagging is always on.
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", HttpApi.poolFor(queries))
      val results = store.readAll(queries)
      (s"${queries.size} queries", Snappy.compress(Prompb.encodeReadResponse(results)))
    }
  })
  // GET /debug/vars — counters + JVM runtime gauges as JSON (expvar)
  server.createContext("/debug/vars", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val rt = Runtime.getRuntime
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      var (gcCount, gcMs) = (0L, 0L)
      gcs.forEach { g =>
        gcCount += math.max(0L, g.getCollectionCount)
        gcMs += math.max(0L, g.getCollectionTime)
      }
      val out = ("{" + serverMetrics().flatMap(_.samples).map { case (n, v) =>
        val key = n.replace("\"", "\\\"") // label quotes, JSON-escaped
        s""""$key":$v,""" }.mkString +
        s""""jvm_heap_used_bytes":${rt.totalMemory - rt.freeMemory},""" +
        s""""jvm_heap_max_bytes":${rt.maxMemory},""" +
        s""""jvm_threads":${Thread.activeCount()},""" +
        s""""jvm_gc_count":$gcCount,"jvm_gc_ms":$gcMs}""").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    }
  })
  // GET /debug/threads — live thread dump (the goroutine-profile analogue)
  server.createContext("/debug/threads", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val tm = java.lang.management.ManagementFactory.getThreadMXBean
      val sb = new StringBuilder
      tm.dumpAllThreads(false, false).foreach { ti =>
        sb.append(s""""${ti.getThreadName}" #${ti.getThreadId} ${ti.getThreadState}\n""")
        ti.getStackTrace.take(24).foreach(f => sb.append(s"\tat $f\n"))
        sb.append('\n')
      }
      val out = sb.toString.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    }
  })
  // GET /metrics — text exposition of the server's own metrics (the
  // reference's Storage implements prometheus.Collector and promhouse
  // serves /metrics; same scrape surface, hand-rendered)
  server.createContext("/metrics", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val out = serverMetrics().map { f =>
        s"# TYPE ${f.name} ${f.kind}\n" + f.samples.map { case (n, v) => s"$n $v\n" }.mkString
      }.mkString.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    }
  })

  /** The server's own metrics, rendered by both `/metrics` and
    * `/debug/vars`; the series-index gauges appear once the store has
    * loaded its index. `graft_read_requests_total` and
    * `graft_write_requests_total` count requests whose body decoded;
    * `graft_http_requests_total` counts every answer by status; the
    * `graft_spark_*` counters add up the Spark jobs, tasks, shuffle bytes
    * written and bytes spilled (memory and disk) of the requests' jobs. */
  private def serverMetrics(): Seq[HttpApi.Family] = {
    import HttpApi.Family.single
    Seq(
      single("graft_samples_written_total", "counter", samplesWritten.get()),
      single("graft_read_requests_total", "counter", readRequests.get()),
      single("graft_write_requests_total", "counter", writeRequests.get()),
      single("graft_read_errors_total", "counter", answered(("/read", 400)).get()),
      single("graft_write_errors_total", "counter", answered(("/write", 400)).get()),
      HttpApi.Family("graft_http_requests_total", "counter", answered.toSeq.sortBy(_._1).map {
        case ((e, code), n) => s"""graft_http_requests_total{endpoint="$e",code="$code"}""" -> n.get() }),
      HttpApi.Family("graft_http_request_duration_seconds", "histogram", endpoints.flatMap(e =>
        latency(e).samples("graft_http_request_duration_seconds", s"""endpoint="$e""""))),
      single("graft_spark_jobs_total", "counter", sparkWork.jobs.get()),
      single("graft_spark_tasks_total", "counter", sparkWork.tasks.get()),
      single("graft_spark_shuffle_write_bytes_total", "counter", sparkWork.shuffleWriteBytes.get()),
      single("graft_spark_spill_bytes_total", "counter", sparkWork.spillBytes.get())) ++
    store.seriesIndexStats.toSeq.flatMap { case (series, ageS) => Seq(
      single("graft_series_index_series", "gauge", series),
      single("graft_series_index_age_seconds", "gauge", ageS)) }
  }

  /** Store a write request's samples; one without samples stores
    * nothing, so it submits no Spark job and waits for no store lock. */
  def write(series: Seq[TimeSeries]): Unit = {
    import spark.implicits._
    val rows = series.flatMap(ts => ts.samples.map(s =>
      (ts.labels.map(l => l.name -> l.value).toMap, s.timestampMs, s.value)))
    if (rows.nonEmpty) store.write(rows.toDF("labels", "timestamp_ms", "value"))
  }

  /** The wrap() middleware analogue (handlers/prom.go:209-227): body
    * runs, response goes out, and when `requestLog` is on each request
    * logs one line — method, path, status, the handler's info string,
    * elapsed ms. Errors answer 400 and log regardless. Every answer
    * counts by endpoint and status, and its latency, response sent, in
    * the endpoint's histogram. */
  private def respond(ex: HttpExchange, endpoint: String)(
      f: => (String, Array[Byte])): Unit = {
    val t0 = System.nanoTime()
    var code = 400
    spark.sparkContext.setLocalProperty(HttpApi.SparkWork.Property, sparkWork.server)
    try {
      val (info, out) = f
      ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
      ex.getResponseHeaders.set("Content-Encoding", "snappy")
      ex.sendResponseHeaders(200, if (out.isEmpty) -1 else out.length)
      if (out.nonEmpty) ex.getResponseBody.write(out)
      ex.close()
      if (requestLog) println(f"[graft-http] ${ex.getRequestMethod} " +
        f"${ex.getRequestURI} -> 200 $info (${(System.nanoTime() - t0) / 1e6}%.1f ms)")
      code = 200
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).getBytes("UTF-8")
        ex.sendResponseHeaders(400, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
        if (requestLog) println(s"[graft-http] ${ex.getRequestMethod} " +
          s"${ex.getRequestURI} -> 400 ${e.getMessage}")
    } finally {
      latency(endpoint).observe((System.nanoTime() - t0) / 1e9)
      answered((endpoint, code)).incrementAndGet()
    }
  }

  def start(): Int = {
    spark.sparkContext.addSparkListener(sparkWork)
    listening = true
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    if (listening) spark.sparkContext.removeSparkListener(sparkWork)
    listening = false
  }
}

object HttpApi {

  /** A metric family as `/metrics` renders it: name, type, and its
    * samples as (name with labels, value). */
  private[api] final case class Family(name: String, kind: String, samples: Seq[(String, Any)])
  private[api] object Family {
    def single(name: String, kind: String, value: Any): Family = Family(name, kind, Seq(name -> value))
  }

  /** Counts the Spark work submitted with the local property
    * [[SparkWork.Property]] set to `server`: jobs, tasks, the shuffle
    * bytes those tasks wrote and the bytes they spilled. Callbacks arrive
    * on the listener bus's thread; the counters are read from others. */
  private[api] final class SparkWork(val server: String) extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val jobs, tasks, shuffleWriteBytes, spillBytes = new java.util.concurrent.atomic.AtomicLong
    // the running stages submitted for this server
    private val stages = scala.collection.mutable.Set.empty[Int]
    private def ours(p: java.util.Properties) = p != null && p.getProperty(SparkWork.Property) == server

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) jobs.incrementAndGet()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stages += e.stageInfo.stageId

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages(e.stageId)) Option(e.taskMetrics).foreach { m =>
        tasks.incrementAndGet()
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages -= e.stageInfo.stageId
  }

  private[api] object SparkWork {
    /** The local property a server's request threads carry. */
    val Property = "graft.http.server"
  }

  /** Upper bounds, in seconds, of the request-latency buckets (the
    * Prometheus client libraries' defaults). */
  val LatencyBuckets: IndexedSeq[Double] = IndexedSeq(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10)

  /** A fixed-bucket histogram that many threads observe at once. */
  private[api] final class Histogram(bounds: IndexedSeq[Double]) {
    private val counts = new java.util.concurrent.atomic.AtomicLongArray(bounds.size + 1)
    private val total = new java.util.concurrent.atomic.DoubleAdder

    def observe(v: Double): Unit = {
      val i = bounds.indexWhere(v <= _)
      counts.incrementAndGet(if (i < 0) bounds.size else i)
      total.add(v)
    }

    /** Cumulative `_bucket` lines, then `_sum` and `_count`, each carrying
      * `labels` (`name="value"` pairs). */
    def samples(name: String, labels: String): Seq[(String, Any)] = {
      val cumulative = (0 to bounds.size).scanLeft(0L)(_ + counts.get(_)).tail
      val les = bounds.map(_.toString) :+ "+Inf"
      les.zip(cumulative).map { case (le, n) => s"""${name}_bucket{$labels,le="$le"}""" -> n } ++
        Seq(s"${name}_sum{$labels}" -> total.sum(), s"${name}_count{$labels}" -> cumulative.last)
    }
  }

  /** The JDK server's switch for TCP_NODELAY on accepted connections. */
  private[graft] val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Turn Nagle's algorithm off for this JVM's JDK HTTP servers, unless
    * the user set the property. The server writes a response's headers
    * and body separately; with Nagle on, the body waits for the client's
    * delayed ACK of the headers (~40 ms per response over loopback). The
    * JDK reads the property once, when its first server is created, so
    * this runs before every `HttpServer.create` here. */
  private[graft] def enableNoDelay(): Unit =
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")

  /** Scheduler-pool classification of a /read request: the empty-matcher
    * slot (matches EVERY series — the bulk-export shape the reference's
    * multi-query batch reserves for promload-style full copies) runs in
    * the `bulk` pool; everything else is a `dashboard` query. Pools need
    * no allocation file — FAIR mode instantiates them on demand with
    * equal weight, which is exactly the isolation wanted: a long export
    * gets a fair share of executor slots, never all of them. */
  def poolFor(queries: Seq[graft.model.Query]): String =
    if (queries.exists(_.matchers.isEmpty)) "bulk" else "dashboard"

  /** The server's flag surface — the cmd/promhouse/main.go:156-163 flag
    * set re-expressed for this engine (conn-pool sizing becomes Spark
    * local parallelism; the debug listener becomes the /debug routes).
    * MaxTimeSeriesInQuery has no flag: a read's matched set prunes its
    * scan by size tiers that need no tuning per server. */
  final case class Flags(
      storeRoot: String = "",
      port: Int = 9116,
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      rollupStepMs: Long = 0L,
      fingerprintBuckets: Int = 0,
      logLevel: String = "WARN",
      requestLog: Boolean = false,
      serveDerivedHints: Boolean = false,
      fuzzCorpusDir: Option[String] = None,
      schedulerPools: Boolean = false)

  /** `--key=value` parser for [[Flags]]; unknown flags fail loudly with
    * the usage text (kingpin's behavior). First positional = storeRoot. */
  def parseFlags(args: Seq[String]): Flags = {
    val usage =
      """usage: HttpApi <storeRoot> [flags]
        |  --port=N                 listen port (default 9116)
        |  --cpus=N                 Spark local[] parallelism + shuffle partitions
        |  --rollup-step-ms=N       maintain write-side rollups at this step (0 = off)
        |  --fingerprint-buckets=N  hive-bucket samples by fingerprint%N (0 = off)
        |  --log-level=LEVEL        Spark log level (default WARN)
        |  --request-log            log one line per HTTP request
        |  --serve-derived-hints    serve rate/increase/delta hints as derived buckets
        |  --fuzz-corpus-dir=DIR    harvest wire bodies as content-addressed fuzz seeds
        |  --scheduler-pools        FAIR scheduling: bulk exports cannot starve dashboard queries""".stripMargin
    args.foldLeft(Flags()) { (f, a) =>
      a match {
        case s if !s.startsWith("--") && f.storeRoot.isEmpty => f.copy(storeRoot = s)
        case s"--port=$v" => f.copy(port = v.toInt)
        case s"--cpus=$v" => f.copy(cpus = v.toInt)
        case s"--rollup-step-ms=$v" => f.copy(rollupStepMs = v.toLong)
        case s"--fingerprint-buckets=$v" => f.copy(fingerprintBuckets = v.toInt)
        case s"--log-level=$v" => f.copy(logLevel = v)
        case "--request-log" => f.copy(requestLog = true)
        case "--serve-derived-hints" => f.copy(serveDerivedHints = true)
        case s"--fuzz-corpus-dir=$v" => f.copy(fuzzCorpusDir = Some(v))
        case "--scheduler-pools" => f.copy(schedulerPools = true)
        case other => sys.error(s"unknown flag '$other'\n$usage")
      }
    } match {
      case f if f.storeRoot.isEmpty => sys.error(usage)
      case f => f
    }
  }

  /** The `promhouse` server binary equivalent (cmd/promhouse/main.go):
    * starts the remote read/write endpoints over a Parquet store.
    * `runMain graft.api.HttpApi <storeRoot> [--flags]` — point a
    * Prometheus `remote_write`/`remote_read` config at it. */
  def main(args: Array[String]): Unit = {
    val flags = parseFlags(args.toSeq)
    val builder = SparkSession.builder()
      .master(s"local[${flags.cpus}]")
      .config("spark.sql.shuffle.partitions", flags.cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // FAIR across request pools (ingest/dashboard/bulk, tagged per
    // request above); scheduler mode is fixed at context start, hence a
    // launch flag rather than a runtime toggle
    if (flags.schedulerPools) builder.config("spark.scheduler.mode", "FAIR")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(flags.logLevel)
    graft.plans.Engine.install(spark)
    val store = new graft.storage.ParquetStore(spark, flags.storeRoot,
      rollupStepMs = flags.rollupStepMs,
      fingerprintBuckets = flags.fingerprintBuckets)
    val api = new HttpApi(spark, store, flags.port,
      serveDerivedHintsOnWire = flags.serveDerivedHints,
      requestLog = flags.requestLog,
      fuzzCorpusDir = flags.fuzzCorpusDir)
    val bound = api.start()
    // graceful shutdown on SIGTERM/SIGINT (the reference's first-signal
    // path, cmd/promhouse/main.go:176-184; a second signal during the
    // hook force-kills the JVM, which is the panic path)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      println("[graft] shutting down...")
      api.stop()
      spark.stop()
    }, "graft-shutdown"))
    println(s"[graft] remote read/write listening on 127.0.0.1:$bound " +
      s"(store: ${flags.storeRoot}; /metrics /debug/vars /debug/threads)")
    Thread.currentThread().join() // serve until killed
  }

  /** Remote-write client (S10 write side): WriteRequest → snappy → POST. */
  def remoteWrite(url: String, series: Seq[TimeSeries]): Int = {
    val body = Snappy.compress(Prompb.encodeWriteRequest(series))
    post(s"$url/write", body)._1
  }

  /** Remote-read client (S10 read side). */
  def remoteRead(url: String, queries: Seq[graft.model.Query]): Seq[Seq[TimeSeries]] = {
    val body = Snappy.compress(Prompb.encodeReadRequest(queries))
    val (code, resp) = post(s"$url/read", body)
    require(code == 200, s"remote read failed: HTTP $code ${new String(resp, "UTF-8")}")
    Prompb.decodeReadResponse(Snappy.uncompress(resp))
  }

  private def post(url: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    conn.setRequestProperty("Content-Encoding", "snappy")
    conn.getOutputStream.write(body)
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    val out = if (in == null) Array.emptyByteArray else in.readAllBytes()
    conn.disconnect()
    (code, out)
  }
}
