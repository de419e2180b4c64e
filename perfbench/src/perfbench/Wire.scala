package perfbench

import graft.api.HttpApi
import graft.model.Query
import graft.sources.Prompb
import graft.storage.{ParquetStore, Storage}
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.xerial.snappy.Snappy
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One request as the client saw it. `payload` is the response body of
  * a successful read, the error text otherwise. */
final case class Op(kind: String, req: Int, phase: String, traced: Boolean, bodyBytes: Int, samples: Int,
    startNs: Long, endNs: Long, status: Int, payload: Array[Byte], spans: Seq[Span]) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = status == 200
  def message: String = if (ok) "" else new String(payload, "UTF-8").take(300)
}

/** Where requests go: the server over HTTP, or the same layers in-process. */
trait Target {
  def write(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span])
  def read(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span])
  /** CPU nanoseconds the serving process has used so far. */
  def cpuNs(): Long
  /** Heap in use after a forced full GC. */
  def liveHeapBytes(): Long
  def close(): Unit
}

/** The deployed server: `graft.api.HttpApi <store> --cpus=4` in its own JVM. */
final class HttpTarget(jvm: Jvm, store: Path, log: Path) extends Target {
  private val jmxPort = Jvm.freePort()
  private val server = jvm.start(
    Jvm.jmxOptions(jmxPort),
    Seq("graft.api.HttpApi", store.toString, "--cpus=4", "--port=0"), log)
  val port: Int = server.awaitLine("listening on 127.0.0.1:(\\d+)", 120).toInt
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  private def post(path: String, body: Array[Byte]): (Int, Array[Byte], Seq[Span]) = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/x-protobuf").header("Content-Encoding", "snappy")
      .timeout(java.time.Duration.ofSeconds(150))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build()
    try {
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      (resp.statusCode(), resp.body(), Nil)
    } catch { case e: java.io.IOException => (-1, String.valueOf(e).getBytes("UTF-8"), Nil) }
  }
  def write(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span]) = post("/write", body)
  def read(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span]) = post("/read", body)
  def cpuNs(): Long = server.cpuNs()
  def liveHeapBytes(): Long = Jvm.liveHeapViaJmx(jmxPort)
  def close(): Unit = server.stop()
}

/** The server's request path replayed in this process through the layers'
  * public functions, one span per layer call:
  *  - `codec.write_decode`: snappy + `Prompb.decodeWriteRequest`
  *  - `write`: `HttpApi.write` → `ParquetStore.write`
  *  - `codec.read_decode`: snappy + `Prompb.decodeReadRequest` + hint sanitizing
  *  - `index`: `ParquetStore.seriesIndex` (a rebuild when the cache is stale)
  *  - `scan`: `Storage.readAll` — scan, semi-join, assembly, driver collect
  *  - `probe`: each `ParquetStore.read` inside it — matcher compile and
  *    the strategy-probe jobs
  *  - `codec.read_encode`: `Prompb.encodeReadResponse` + snappy */
final class InProcessTarget(val spark: SparkSession, root: Path, val tracer: Tracer) extends Target {
  val store = new ParquetStore(spark, root.toString)
  private val traced = new Storage {
    override protected def session: SparkSession = spark
    override def write(batch: DataFrame): Unit = store.write(batch)
    override def read(q: Query): DataFrame = tracer.span("probe")(store.read(q))
  }
  private val api = new HttpApi(spark, traced, 0)
  private val sc = spark.sparkContext

  /** The handler's error contract: any exception answers 400 with its message. */
  private def respond(f: => Array[Byte]): (Int, Array[Byte]) =
    try (200, f) catch { case e: Exception => (400, String.valueOf(e.getMessage).getBytes("UTF-8")) }

  def write(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span]) = {
    val ((code, out), spans) = tracer.op(traced)(respond {
      val series = tracer.span("codec.write_decode")(Prompb.decodeWriteRequest(Snappy.uncompress(body)))
      sc.setLocalProperty("spark.scheduler.pool", "ingest")
      tracer.span("write")(api.write(series))
      Array.emptyByteArray
    })
    (code, out, spans)
  }

  def read(body: Array[Byte], traced: Boolean): (Int, Array[Byte], Seq[Span]) = {
    val ((code, out), spans) = tracer.op(traced)(respond {
      val queries = tracer.span("codec.read_decode")(
        Prompb.decodeReadRequest(Snappy.uncompress(body)).map(Storage.sanitizeWireHints))
      sc.setLocalProperty("spark.scheduler.pool", HttpApi.poolFor(queries))
      tracer.span("index")(store.seriesIndex)
      val results = tracer.span("scan")(this.traced.readAll(queries))
      tracer.span("codec.read_encode")(Snappy.compress(Prompb.encodeReadResponse(results)))
    })
    (code, out, spans)
  }

  private val self = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = self.getProcessCpuTime
  def liveHeapBytes(): Long = Jvm.liveHeap(java.lang.management.ManagementFactory.getMemoryMXBean)
  def close(): Unit = ()
}

/** The three wire workloads. */
object Wire {
  final case class Shape(writers: Int, readers: Int, preload: Int)
  /** Steps written during set-up for `dashboard` and `mixed`. */
  val Preload = 3
  val Shapes: Map[String, Shape] = Map(
    "ingest" -> Shape(writers = 4, readers = 0, preload = 0),
    "dashboard" -> Shape(writers = 0, readers = 4, preload = Preload),
    "mixed" -> Shape(writers = 2, readers = 2, preload = Preload))
  /** Model-checked reads `ingest` sends after its window, one step each. */
  val VerifyReads = 4
  /** Distinct read requests, two of each kind; clients cycle through
    * them, as a dashboard re-issues its panels' queries. Reads go to a
    * fixed store, so a repeated request owes the same answer. */
  val ReadPool: Int = 2 * Model.ReadKinds.size
  /** Reads sent during set-up, as many at a time as there are readers:
    * the pool once. At the commit this benchmark was written against, a
    * request's first run on a fresh server is slower than its repeats, so
    * the window sees only repeated requests. */
  val WarmupReads: Int = ReadPool
  /** Write bodies per second of window. At the commit this benchmark was
    * written against, 4 clients complete about 0.75 writes/s, so this
    * leaves about 10x headroom for a faster write path; a run that uses
    * them all fails rather than reuse a body. */
  val WritesPerSecond = 8

  def run(o: Opts): Result = {
    val shape = Shapes(o.workload)
    val model = new Model(o.seed)
    val stampsBefore = Machine.stamps()
    val setupT0 = System.nanoTime()

    // ingest's first write (empty store, no dictionary anti-join) is set-up
    val setupSteps = math.max(shape.preload, 1)
    val maxWindowWrites = if (shape.writers > 0) o.seconds * WritesPerSecond + 8 else 0
    val stepCount = setupSteps + maxWindowWrites
    val (readFrom, readUntil) = (0, shape.preload)

    // every request body is built and encoded before the window opens
    val pool = Executors.newFixedThreadPool(3)
    def submit[T](f: => T): Future[T] = pool.submit(new Callable[T] { def call(): T = f })
    val writeBodies = (0 until stepCount).map(k =>
      submit(Snappy.compress(Prompb.encodeWriteRequest(model.writeRequest(k)))))
    val reads = if (shape.readers > 0) (0 until ReadPool).map(i => model.read(i, readFrom, readUntil)) else Nil
    val readBodies = reads.map(r => Snappy.compress(Prompb.encodeReadRequest(r.queries)))

    val storeDir = o.work.resolve("store")
    val (target, inProcess) =
      if (o.trace) {
        val spark = Machine.session(4)
        val t = new InProcessTarget(spark, storeDir, new Tracer(spark.sparkContext, "pb:"))
        (t, Some(t))
      } else (new HttpTarget(o.jvm, storeDir, o.out.resolve(s"${o.tag}-server.log")), None)
    val listener = inProcess.map { t =>
      val l = new SpanListener(t.tracer.prefix)
      t.spark.sparkContext.addSparkListener(l)
      l
    }
    val ops = mutable.ArrayBuffer[Op]()
    val phases = mutable.LinkedHashMap[String, Double]("boot_s" -> (System.nanoTime() - setupT0) / 1e9)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    def send(kind: String, req: Int, phase: String, traced: Boolean, body: Array[Byte], samples: Int = 0): Op = {
      val t0 = System.nanoTime()
      val (code, out, spans) =
        if (kind == "write") target.write(body, traced) else target.read(body, traced)
      Op(kind, req, phase, traced, body.length, samples, t0, System.nanoTime(), code, out, spans)
    }

    try {
      val setupWrites = (0 until setupSteps).map { k =>
        val op = send("write", k, "setup", traced = true, writeBodies(k).get(), Model.SamplesPerRequest)
        if (!op.ok) throw new IllegalStateException(s"set-up write $k failed: HTTP ${op.status} ${op.message}")
        op
      }
      phase("setup_writes_s")
      // the readers' first requests warm the server's code paths
      val warm = Executors.newFixedThreadPool(math.max(1, shape.readers))
      val setupReads = (if (shape.readers == 0) Nil else 0 until WarmupReads).map(i =>
        warm.submit(new Callable[Op] { def call(): Op = send("read", i, "setup", traced = true, readBodies(i % ReadPool)) }))
        .map(_.get())
      warm.shutdown()
      phase("warm_reads_s")
      val setupOps = setupWrites ++ setupReads
      ops ++= setupOps
      writeBodies.foreach(_.get())
      phase("encode_wait_s")
      val setupS = (System.nanoTime() - setupT0) / 1e9
      pool.shutdown()

      val before = StoreFiles.count(storeDir)
      val dictBefore = inProcess.map(t => dictRows(t.spark, storeDir))

      // ---- timed window: closed loop, no retries ----
      val nextWrite = new AtomicInteger(setupSteps)
      val nextRead = new AtomicInteger(WarmupReads)
      val opSeq = new AtomicInteger(0)
      val exhausted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val windowOps = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
      val ticks0 = Machine.cpuTicks()
      val cpu0 = target.cpuNs()
      val w0 = System.nanoTime()
      val deadline = w0 + o.seconds * 1000000000L
      // in the traced run every other request records layer spans; the rest
      // run plain so the tracing overhead can be read off the artifact
      def client(kind: String): Thread = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) {
          val traced = o.trace && opSeq.getAndIncrement() % 2 == 0
          if (kind == "write") {
            val k = nextWrite.getAndIncrement()
            if (k >= stepCount) { exhausted.set(true); go = false }
            else windowOps.add(send("write", k, "window", traced, writeBodies(k).get(), Model.SamplesPerRequest))
          } else {
            val i = nextRead.getAndIncrement()
            windowOps.add(send("read", i, "window", traced, readBodies(i % ReadPool)))
          }
        }
      }, s"perfbench-$kind")
      val clients = Seq.fill(shape.writers)(client("write")) ++ Seq.fill(shape.readers)(client("read"))
      clients.foreach(_.start())
      clients.foreach(_.join())
      val w1 = System.nanoTime()
      val cpu1 = target.cpuNs()
      val hostCpu = Machine.cpuShares(ticks0, Machine.cpuTicks())
      if (exhausted.get()) throw new IllegalStateException(
        s"the ${maxWindowWrites} pre-encoded write bodies ran out inside the window; raise WritesPerSecond")
      val window = windowOps.asScala.toSeq.sortBy(_.startNs)
      mark = System.nanoTime()
      ops ++= window
      val heapMb = target.liveHeapBytes() / 1048576.0
      val after = StoreFiles.count(storeDir)

      val ackedSteps = (0 until setupSteps) ++ window.filter(o => o.kind == "write" && o.ok).map(_.req)
      // ingest's read layers are traced on a read-back of acknowledged steps
      val verify = if (shape.readers > 0 || !o.trace) Nil else ackedSteps.sorted.take(VerifyReads).zipWithIndex.map {
        case (k, i) =>
          val r = model.read(2000000 + i, k, k + 1)
          (send("read", -2 - i, "verify", traced = true, Snappy.compress(Prompb.encodeReadRequest(r.queries))), r, k)
      }
      ops ++= verify.map(_._1)
      phase("verify_reads_s")
      val indexBuild = inProcess.map { t =>
        t.store.invalidateIndex()
        val t0 = System.nanoTime()
        val n = t.store.seriesIndex.count()
        (n, (System.nanoTime() - t0) / 1e6)
      }
      val dictAfter = inProcess.map(t => dictRows(t.spark, storeDir))
      target.close()
      phase("stop_s")

      // ---- output checks ----
      val failures = new Failures
      ops.filter(o => !o.ok && o.phase != "setup").foreach(o => failures.add(s"${o.kind}_http_${o.status}", o.message))
      val answers = mutable.HashMap[(Model.Read, Int, Int), Seq[Seq[graft.model.TimeSeries]]]()
      def check(op: Op, r: Model.Read, from: Int, until: Int): Unit = if (op.ok) {
        val want = answers.getOrElseUpdate((r, from, until), r.queries.map(model.answer(_, from, until)))
        val got = Prompb.decodeReadResponse(Snappy.uncompress(op.payload))
        val bad =
          if (got.size != r.queries.size) Some(s"${got.size} results for ${r.queries.size} queries")
          else got.indices.iterator.map { j =>
            model.diff(got(j), want(j), approx = r.queries(j).hints.isDefined)
          }.collectFirst { case Some(d) => d }
        bad.foreach(d => failures.add("wrong_answer", s"${r.kind} read: $d"))
      }
      (setupReads ++ window.filter(_.kind == "read")).foreach(op => check(op, reads(op.req % ReadPool), readFrom, readUntil))
      verify.foreach { case (op, r, k) => check(op, r, k, k + 1) }

      val stored = if (shape.writers == 0) None else Some(StoredCheck.run(storeDir, model, ackedSteps.toSet))
      stored.foreach { s =>
        if (!s.exact) failures.add("stored_mismatch", s.summary)
      }
      phase("check_s")

      // ---- metrics ----
      val wall = (w1 - w0) / 1e9
      val wWrites = window.filter(_.kind == "write")
      val wReads = window.filter(_.kind == "read")
      val okWrites = wWrites.filter(_.ok)
      val okReads = wReads.filter(_.ok)
      val storedSamples = ackedSteps.size.toLong * Model.SamplesPerRequest
      // the workload's gated request kind, answered with 200: writes on
      // ingest, reads elsewhere; failed requests count in `failed` only
      val done = if (shape.readers == 0) okWrites else okReads
      val served = Stats.inWindow(done.map(op => (op.startNs, op.endNs)), w0, deadline)
      val e2e = mutable.LinkedHashMap[String, (Double, String)](
        "setup_s" -> (setupS, "s"),
        "latency_ms" -> (Stats.median(done.map(_.ms)), "ms"),
        "cpu_ms_per_request" -> ((cpu1 - cpu0) / 1e6 / served, "ms"),
        "live_heap_mb" -> (heapMb, "MB"))
      val bytesPerSample = after.samplesBytes.toDouble / stored.map(_.storedRows).getOrElse(storedSamples)
      val detail = mutable.LinkedHashMap[String, Any]("bytes_per_sample" -> bytesPerSample)
      if (wWrites.nonEmpty) {
        detail("write_samples_per_s") = okWrites.size.toDouble * Model.SamplesPerRequest / wall
        detail("write_p50_ms") = Stats.median(okWrites.map(_.ms))
        detail("write_tail") = Stats.tail(okWrites.map(_.ms))
      }
      if (wReads.nonEmpty) {
        detail("read_p50_ms") = Stats.median(okReads.map(_.ms))
        detail("read_tail") = Stats.tail(okReads.map(_.ms))
        detail("reads_per_s") = okReads.size / wall
        detail("read_p50_ms_by_kind") = okReads.groupBy(op => reads(op.req % ReadPool).kind).view
          .mapValues(os => Stats.median(os.map(_.ms))).toMap
      }
      val attempted = window.size + verify.size + stored.size
      detail("error_ratio") = failures.count.toDouble / attempted
      detail("cpu_s") = (cpu1 - cpu0) / 1e9
      detail("window_s") = wall
      detail("phases") = phases
      detail("writes") = Map("attempted" -> wWrites.size, "ok" -> okWrites.size)
      detail("reads") = Map("attempted" -> wReads.size, "ok" -> okReads.size)
      detail("store_files") = Map("before_window" -> before.toMap, "after_window" -> after.toMap)
      stored.foreach(s => detail("stored_check") = s.toMap)

      val layers = listener.map { l =>
        l.drain(inProcess.get.spark.sparkContext)
        inProcess.get.spark.sparkContext.removeSparkListener(l)
        Layers.compute(l, ops.toSeq, shape, before, after, dictBefore.get, dictAfter.get,
          indexBuild.get, setupSteps, bytesPerSample)
      }
      Result(
        correct = failures.kinds.keySet.forall(k => !Set("wrong_answer", "stored_mismatch")(k)),
        attempted = attempted, failed = failures.count,
        endToEnd = e2e.toSeq, perLayer = layers.map(_.metrics).getOrElse(Map.empty),
        artifact = mutable.LinkedHashMap[String, Any](
          "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
          "detail" -> detail,
          "per_layer_detail" -> layers.map(_.detail),
          "failures" -> failures.toMap,
          "requests" -> ops.map(op => Seq(op.kind, op.phase, op.status, op.ms,
            if (op.kind == "read" && op.req >= 0) reads(op.req % ReadPool).kind else "")),
          "machine" -> Map("before" -> stampsBefore, "after" -> Machine.stamps(), "window_cpu_shares" -> hostCpu)))
    } finally {
      pool.shutdownNow()
      target.close()
    }
  }

  private def dictRows(spark: SparkSession, store: Path): Long =
    if (Files.exists(store.resolve("time_series"))) spark.read.parquet(store.resolve("time_series").toString).count()
    else 0L
}

/** Failure kinds with their counts and first messages. */
final class Failures {
  val kinds: mutable.Map[String, (Int, String)] = mutable.LinkedHashMap()
  def add(kind: String, msg: String): Unit = synchronized {
    kinds(kind) = kinds.get(kind).map { case (n, m) => (n + 1, m) }.getOrElse((1, msg))
  }
  def count: Int = kinds.values.map(_._1).sum
  def toMap: Map[String, Any] = kinds.map { case (k, (n, m)) => k -> Map("count" -> n, "first" -> m) }.toMap
}

/** Parquet files under the store's two tables. */
final case class StoreFiles(samplesFiles: Int, samplesBytes: Long, seriesFiles: Int) {
  def toMap: Map[String, Any] =
    Map("samples_files" -> samplesFiles, "samples_bytes" -> samplesBytes, "series_files" -> seriesFiles)
}
object StoreFiles {
  def parquet(store: Path, table: String): Seq[Path] = {
    val d = store.resolve(table)
    if (!Files.exists(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
  }
  def count(store: Path): StoreFiles = {
    val samples = parquet(store, "samples")
    StoreFiles(samples.size, samples.map(Files.size).sum, parquet(store, "time_series").size)
  }
}

/** End-of-run check that nothing was lost or duplicated: per write step
  * (each step owns a disjoint time window), stored rows and distinct
  * (fingerprint, timestamp_ms) pairs against what the server acknowledged.
  * Rows in a step the server answered with an error are counted apart as
  * `unacknowledged_rows`. */
final case class StoredCheck(ackedSamples: Long, storedRows: Long, distinctPairs: Long,
    lostPairs: Long, duplicateRows: Long, unacknowledgedRows: Long) {
  def exact: Boolean = storedRows == ackedSamples && distinctPairs == ackedSamples
  def summary: String =
    s"acknowledged $ackedSamples samples; stored $storedRows rows, $distinctPairs distinct " +
      s"(fingerprint, timestamp_ms); lost $lostPairs, duplicate rows $duplicateRows, " +
      s"rows from unacknowledged writes $unacknowledgedRows"
  def toMap: Map[String, Any] = Map("acknowledged_samples" -> ackedSamples, "stored_rows" -> storedRows,
    "distinct_pairs" -> distinctPairs, "lost_pairs" -> lostPairs, "duplicate_rows" -> duplicateRows,
    "unacknowledged_rows" -> unacknowledgedRows, "exact" -> exact)
}
object StoredCheck {
  /** Reads the samples table's parquet files directly (no Spark), so the
    * check needs no session of its own and trusts no read path. */
  def run(store: Path, model: Model, acked: Set[Int]): StoredCheck = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = new org.apache.hadoop.conf.Configuration()
    // (step, timestamp) -> fingerprints stored at that instant
    val fps = mutable.HashMap[(Int, Long), mutable.ArrayBuilder.ofLong]()
    StoreFiles.parquet(store, "samples").foreach { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(f.toUri))
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
        val ts = g.getLong("timestamp_ms", 0)
        fps.getOrElseUpdate((model.stepOf(ts), ts), new mutable.ArrayBuilder.ofLong) += g.getLong("fingerprint", 0)
      } finally reader.close()
    }
    // step -> (rows, distinct (fingerprint, timestamp_ms) pairs)
    val rows = fps.toSeq.map { case ((step, _), b) =>
      val a = b.result()
      java.util.Arrays.sort(a)
      step -> (a.length.toLong, (a.indices.count(i => i == 0 || a(i) != a(i - 1))).toLong)
    }.groupMapReduce(_._1)(_._2) { case ((n1, d1), (n2, d2)) => (n1 + n2, d1 + d2) }
    val per = Model.SamplesPerRequest.toLong
    StoredCheck(
      ackedSamples = acked.size * per,
      storedRows = rows.values.map(_._1).sum,
      distinctPairs = rows.values.map(_._2).sum,
      lostPairs = acked.toSeq.map(k => math.max(0L, per - rows.get(k).map(_._2).getOrElse(0L))).sum,
      duplicateRows = rows.values.map { case (n, d) => n - d }.sum,
      unacknowledgedRows = rows.filter(r => !acked(r._1)).values.map(_._1).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Requests completed in the window `[w0, w1)` without the window-edge
    * quantization: each counts by the share of its duration inside it. */
  def inWindow(spans: Seq[(Long, Long)], w0: Long, w1: Long): Double =
    spans.map { case (s, e) => (math.min(e, w1) - math.max(s, w0)).max(0L).toDouble / math.max(1L, e - s) }.sum

  /** The highest percentile with at least 10 samples beyond it. */
  def tail(xs: Seq[Double]): Map[String, Any] =
    if (xs.size <= 10) Map("n" -> xs.size, "percentile" -> None, "ms" -> None)
    else {
      val s = xs.sorted
      Map("n" -> s.size, "percentile" -> 100.0 * (s.size - 10) / s.size, "ms" -> s(s.size - 11))
    }
}
