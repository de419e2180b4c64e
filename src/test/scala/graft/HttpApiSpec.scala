package graft

import graft.api.HttpApi
import graft.model._
import graft.storage.MemoryStore
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end wire protocol test: remote write + remote read over real
  * HTTP with snappy+protobuf bodies (the reference's S1/S2 surface). */
class HttpApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // FAIR so the serving-path fairness test is real whichever suite
    // creates the shared context; default-pool behavior stays FIFO
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  val T0 = 1700000000000L
  def fixture: Seq[TimeSeries] = Seq(
    TimeSeries(
      Seq(Label("__name__", "http_requests_total"), Label("code", "200"), Label("handler", "query")),
      (0 until 5).map(i => Sample(T0 + i * 1000L, 13d + i))),
    TimeSeries(
      Seq(Label("__name__", "up"), Label("job", "clickhouse")),
      Seq(Sample(T0, 1d))))

  test("remote write -> remote read round-trip over HTTP") {
    val api = new HttpApi(spark, new MemoryStore(spark))
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      assert(HttpApi.remoteWrite(url, fixture) === 200)
      assert(api.totalSamplesWritten === 6)

      val results = HttpApi.remoteRead(url, Seq(
        Query(T0, T0 + 10000, Seq(Matcher("__name__", MatchType.Eq, "http_requests_total"))),
        Query(T0, T0 + 10000, Seq(Matcher("no_such", MatchType.Eq, "x"))),
        Query(T0, T0 + 10000, Seq.empty)))
      assert(results.size === 3)
      assert(results(0).size === 1)
      assert(results(0).head.labels === fixture.head.labels)
      assert(results(0).head.samples === fixture.head.samples)
      assert(results(1).isEmpty)       // no match
      assert(results(2).size === 2)    // empty matchers = everything
    } finally api.stop()
  }

  test("concurrent remote writes: all accepted, counter exact") {
    // a Parquet store: its appends share commit directories, so concurrent
    // writes must neither fail each other nor lose or duplicate samples
    val root = java.nio.file.Files.createTempDirectory("graft_concurrent_").toString
    val api = new HttpApi(spark, new graft.storage.ParquetStore(spark, root))
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // 8 writers, each sending the same 8 series at its own timestamps:
      // after the first, no write has new series, so their sample appends
      // all run at once
      val perSeries = 250
      val codes = Await.result(Future.sequence((0 until 8).map(w => Future {
        HttpApi.remoteWrite(url, (1 to 8).map(i => TimeSeries(
          Seq(Label("__name__", s"cc_metric_$i")),
          (0 until perSeries).map(k => Sample(T0 + (w * perSeries + k) * 1000L, w.toDouble)))))
      })), 300.seconds)
      // every acknowledged sample is stored, exactly once
      val acked = codes.count(_ == 200) * 8L * perSeries
      val stored = spark.read.parquet(s"$root/samples")
      assert(stored.count() === acked)
      assert(stored.select("fingerprint", "timestamp_ms").distinct().count() === acked)
      assert(codes.forall(_ == 200), codes)
      assert(api.totalSamplesWritten === 8 * 8 * perSeries) // atomic increment under concurrency
      assert(HttpApi.remoteRead(url,
        Seq(Query(0L, Long.MaxValue, Seq.empty))).head.size === 8)
      // /metrics: own-counter scrape surface, parseable by the engine's
      // exposition parser (reference: Storage is a prometheus.Collector)
      val metrics = scala.io.Source.fromURL(s"$url/metrics", "UTF-8").mkString
      val parsed = graft.sources.Exposition.parse(metrics, defaultTsMs = 1L)
      def value(name: String): Double = parsed
        .find(_.labels.exists(l => l.name == "__name__" && l.value == name))
        .get.samples.head.value
      assert(value("graft_samples_written_total") === 8d * 8 * perSeries)
      assert(value("graft_write_requests_total") === 8d)
      assert(value("graft_read_requests_total") === 1d)
      // series-index gauges: the series written, and a fresh listing
      assert(value("graft_series_index_series") === 8d)
      val age = value("graft_series_index_age_seconds")
      assert(age >= 0d && age < 600d, age)
      val vars = scala.io.Source.fromURL(s"$url/debug/vars", "UTF-8").mkString
      assert(vars.contains("\"graft_series_index_series\":8,"), vars)
      assert(vars.contains("\"graft_series_index_age_seconds\":"), vars)
    } finally api.stop()
  }

  test("malformed body yields HTTP 400, not a crash") {
    val api = new HttpApi(spark, new MemoryStore(spark))
    val port = api.start()
    try {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/write").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write("not snappy".getBytes)
      assert(conn.getResponseCode === 400)
      conn.disconnect()
    } finally api.stop()
  }

  test("debug surface and server flags: /debug/vars, /debug/threads, flag parsing") {
    val api = new HttpApi(spark, new MemoryStore(spark))
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      assert(HttpApi.remoteWrite(url, fixture) === 200)
      // /debug/vars: counters move with traffic, JVM gauges present
      val vars = scala.io.Source.fromURL(s"$url/debug/vars", "UTF-8").mkString
      assert(vars.contains("\"graft_samples_written_total\":6"), vars)
      assert(vars.contains("\"graft_write_requests_total\":1"), vars)
      assert(vars.contains("\"jvm_heap_used_bytes\":"), vars)
      assert(vars.contains("\"jvm_gc_count\":"), vars)
      // /debug/threads: a live dump that includes this server's own pool
      val threads = scala.io.Source.fromURL(s"$url/debug/threads", "UTF-8").mkString
      assert(threads.contains("graft-http"), threads.take(500))
    } finally api.stop()
    // the flag surface (cmd/promhouse/main.go's set, re-keyed): defaults,
    // overrides, loud unknown-flag and missing-root failures
    val d = HttpApi.parseFlags(Seq("/some/store"))
    assert(d.storeRoot === "/some/store")
    assert(d.port === 9116)
    assert(d.maxSeriesInline === graft.storage.Storage.MaxSeriesInline)
    val f = HttpApi.parseFlags(Seq("/s", "--port=7781", "--cpus=8",
      "--rollup-step-ms=60000", "--fingerprint-buckets=16",
      "--max-series-inline=75", "--log-level=ERROR", "--request-log",
      "--serve-derived-hints"))
    assert(f === HttpApi.Flags("/s", 7781, 8, 60000L, 16, 75, "ERROR", true, true))
    assert(!f.schedulerPools)
    assert(HttpApi.parseFlags(Seq("/s", "--scheduler-pools")).schedulerPools)
    intercept[RuntimeException](HttpApi.parseFlags(Seq("/s", "--bogus=1")))
    intercept[RuntimeException](HttpApi.parseFlags(Seq.empty))
    // the threshold flag reaches the store: a tiny inline cap flips the
    // strategy to the broadcast semi-join, same results
    val root = java.nio.file.Files.createTempDirectory("graft_flags_store_").toString
    val tuned = new graft.storage.ParquetStore(spark, root, maxSeriesInline = 1)
    import spark.implicits._
    tuned.write(fixture.flatMap(ts => ts.samples.map(s =>
      (ts.labels.map(l => l.name -> l.value).toMap, s.timestampMs, s.value)))
      .toDF("labels", "timestamp_ms", "value"))
    val q = Query(T0, T0 + 10000, Seq(Matcher("__name__", MatchType.Re, ".+")))
    val got = tuned.readTimeSeries(q)
    assert(got.size === 2) // 2 matched series > maxSeriesInline=1, semi-join path
    assert(got.map(_.samples.size).sum === 6)
  }

  test("fuzz-corpus harvesting: wire bodies land as content-addressed seeds that replay clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_corpus_").toString
    val api = new HttpApi(spark, new MemoryStore(spark), fuzzCorpusDir = Some(dir))
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      assert(HttpApi.remoteWrite(url, fixture) === 200)
      assert(HttpApi.remoteWrite(url, fixture) === 200) // same body → same seed
      assert(HttpApi.remoteWrite(url, fixture.take(1)) === 200)
      HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, Seq.empty)))
    } finally api.stop()
    val writeSeeds = new java.io.File(dir, "write").listFiles()
    val readSeeds = new java.io.File(dir, "read").listFiles()
    assert(writeSeeds.length === 2, "content addressing dedups the duplicate body")
    assert(readSeeds.length === 1)
    // every harvested seed replays through the codec and round-trips —
    // the corpus is immediately consumable by the decode properties
    for (f <- writeSeeds) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val decoded = graft.sources.Prompb.decodeWriteRequest(bytes)
      assert(decoded.nonEmpty)
      assert(graft.sources.Prompb.decodeWriteRequest(
        graft.sources.Prompb.encodeWriteRequest(decoded)) === decoded)
      // content address matches content
      assert(f.getName === java.security.MessageDigest.getInstance("SHA-1")
        .digest(bytes).map("%02x".format(_)).mkString + ".bin")
    }
    for (f <- readSeeds) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      assert(graft.sources.Prompb.decodeReadRequest(bytes).size === 1)
    }
  }

  test("wire golden bytes: canonical prompb encoding byte-for-byte, driven through HTTP") {
    import graft.sources.Prompb
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    // 1. literal golden, hand-derived from the proto3 wire spec (field
    // numbers per prompb/prompb.proto): one series, one label, one sample
    val tiny = Seq(TimeSeries(Seq(Label("__name__", "up")),
      Seq(Sample(1500000000000L, 1.0))))
    val tinyGold =
      "0a220a0e0a085f5f6e616d655f5f12027570121009000000000000f03f1080b0def7d32b"
    assert(hex(Prompb.encodeWriteRequest(tiny)) === tinyGold)
    assert(Prompb.decodeWriteRequest(unhex(tinyGold)) === tiny)

    // 2. the reference's own write-request fixture shape
    // (handlers/prom_test.go:34-83: three http_requests_total series,
    // 3 labels + 5 one-second-spaced samples each) with a FIXED start —
    // golden bytes derived by an independent straight-line encoder, so a
    // codec change that still round-trips but drifts off the canonical
    // gogo/protobuf field order or encoding fails here
    val start = 1500000000000L
    def series(code: String, handler: String, vals: Seq[Int]) = TimeSeries(
      Seq(Label("__name__", "http_requests_total"), Label("code", code),
        Label("handler", handler)),
      vals.zipWithIndex.map { case (v, i) => Sample(start + i * 1000L, v.toDouble) })
    val full = Seq(
      series("200", "query", Seq(13, 14, 14, 14, 15)),
      series("400", "query_range", Seq(9, 9, 9, 11, 11)),
      series("200", "prometheus", Seq(591, 592, 593, 594, 595)))
    val fullGold =
      "0a9a010a1f0a085f5f6e616d655f5f1213687474705f72657175657374735f746f74616c" +
      "0a0b0a04636f646512033230300a100a0768616e646c657212057175657279" +
      "1210090000000000002a401080b0def7d32b1210090000000000002c4010e8b7def7d32b" +
      "1210090000000000002c4010d0bfdef7d32b1210090000000000002c4010b8c7def7d32b" +
      "1210090000000000002e4010a0cfdef7d32b" +
      "0aa0010a1f0a085f5f6e616d655f5f1213687474705f72657175657374735f746f74616c" +
      "0a0b0a04636f646512033430300a160a0768616e646c6572120b71756572795f72616e6765" +
      "12100900000000000022401080b0def7d32b121009000000000000224010e8b7def7d32b" +
      "121009000000000000224010d0bfdef7d32b121009000000000000264010b8c7def7d32b" +
      "121009000000000000264010a0cfdef7d32b" +
      "0a9f010a1f0a085f5f6e616d655f5f1213687474705f72657175657374735f746f74616c" +
      "0a0b0a04636f646512033230300a150a0768616e646c6572120a70726f6d657468657573" +
      "12100900000000007882401080b0def7d32b121009000000000080824010e8b7def7d32b" +
      "121009000000000088824010d0bfdef7d32b121009000000000090824010b8c7def7d32b" +
      "121009000000000098824010a0cfdef7d32b"
    assert(hex(Prompb.encodeWriteRequest(full)) === fullGold)
    assert(Prompb.decodeWriteRequest(unhex(fullGold)) === full)

    // 3. the GOLDEN BYTES drive the real HTTP surface: raw snappy body in
    // (no client-side encode helper — a stock Prometheus sender's shape),
    // stored series read back intact over /read
    val api = new HttpApi(spark, new MemoryStore(spark))
    val port = api.start()
    try {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/write").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        org.xerial.snappy.Snappy.compress(unhex(fullGold)))
      assert(conn.getResponseCode === 200)
      conn.disconnect()
      assert(api.totalSamplesWritten === 15)
      val got = HttpApi.remoteRead(s"http://127.0.0.1:$port", Seq(
        Query(start, start + 10000,
          Seq(Matcher("__name__", MatchType.Eq, "http_requests_total"),
            Matcher("handler", MatchType.Eq, "query")))))
      assert(got.head.size === 1)
      assert(got.head.head.samples === full.head.samples)
    } finally api.stop()
  }

  test("prompb read-protocol messages round-trip") {
    import graft.sources.Prompb
    val queries = Seq(
      Query(1L, 2L, Seq(Matcher("a", MatchType.Eq, "x"), Matcher("b", MatchType.Nre, "y.*"))),
      Query(0L, 9L, Seq.empty),
      Query(1L, 9L, Seq.empty, Some(ReadHints(60000L, "avg_over_time", 1L, 9L))))
    assert(Prompb.decodeReadRequest(Prompb.encodeReadRequest(queries)) === queries)
    val resp = Seq(fixture, Seq.empty)
    assert(Prompb.decodeReadResponse(Prompb.encodeReadResponse(resp)) === resp)
  }

  test("hinted remote read serves pre-aggregated step buckets over the wire") {
    val store = new MemoryStore(spark)
    val api = new HttpApi(spark, store)
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      assert(HttpApi.remoteWrite(url, fixture) === 200)
      val m = Seq(Matcher("__name__", MatchType.Eq, "http_requests_total"))

      // max over 2 s buckets: samples at T0+0..4 s with values 13..17
      // collapse to buckets (T0, 14), (T0+2s, 16), (T0+4s, 17)
      val hinted = HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, m,
        Some(ReadHints(stepMs = 2000L, func = "max_over_time"))))).head
      assert(hinted.size === 1)
      assert(hinted.head.samples === Seq(
        Sample(T0, 14d), Sample(T0 + 2000, 16d), Sample(T0 + 4000, 17d)))

      // count func (cast to double) over one wide bucket
      val counted = HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, m,
        Some(ReadHints(stepMs = 3600_000L, func = "count"))))).head
      assert(counted.head.samples.map(_.value) === Seq(5d))

      // rate/increase/delta hints are STRIPPED at the wire edge by default:
      // hints are advisory, so a stock client re-applies rate() over the
      // returned samples — serving derived per-bucket rates would yield
      // rate-of-rate. Raw samples come back, reference-identical
      // (prom.go:184-186 drops every hint).
      val rated = HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, m,
        Some(ReadHints(stepMs = 2000L, func = "rate"))))).head
      assert(rated.head.samples === fixture.head.samples)

      // pushdown-aware deployments opt in: bucket-local Δvalue/Δt
      // [13,14]→1/s, [15,16]→1/s, [17] single-sample dropped
      val optIn = new HttpApi(spark, store, serveDerivedHintsOnWire = true)
      val optInPort = optIn.start()
      try {
        val derived = HttpApi.remoteRead(s"http://127.0.0.1:$optInPort",
          Seq(Query(T0, T0 + 10000, m,
            Some(ReadHints(stepMs = 2000L, func = "rate"))))).head
        assert(derived.head.samples === Seq(Sample(T0, 1d), Sample(T0 + 2000, 1d)))
      } finally optIn.stop()

      // un-exploitable func (quantile needs the full distribution): raw
      // samples, reference-identical behavior
      val raw = HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, m,
        Some(ReadHints(stepMs = 2000L, func = "quantile"))))).head
      assert(raw.head.samples === fixture.head.samples)

      // stddev is wire-unsafe for the same reason as rate (stddev over
      // bucket stddevs diverges): stripped by default, raw samples back
      val sd = HttpApi.remoteRead(url, Seq(Query(T0, T0 + 10000, m,
        Some(ReadHints(stepMs = 2000L, func = "stddev_over_time"))))).head
      assert(sd.head.samples === fixture.head.samples)

      // hints apply per-query inside a positional BATCH too (the batched
      // path is one unioned Spark job; each member keeps its own hint)
      val batched = HttpApi.remoteRead(url, Seq(
        Query(T0, T0 + 10000, m, Some(ReadHints(stepMs = 2000L, func = "max_over_time"))),
        Query(T0, T0 + 10000, m)))
      assert(batched(0).head.samples === Seq(
        Sample(T0, 14d), Sample(T0 + 2000, 16d), Sample(T0 + 4000, 17d)))
      assert(batched(1).head.samples === fixture.head.samples)
    } finally api.stop()
  }

  test("scheduler pools: a bulk export does not head-of-line-block a dashboard query") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // request-shape classification: the empty-matcher slot is the bulk path
    assert(HttpApi.poolFor(Seq(Query(T0, T0 + 1, Seq.empty))) === "bulk")
    assert(HttpApi.poolFor(Seq(
      Query(T0, T0 + 1, Seq(Matcher("__name__", MatchType.Eq, "m"))))) === "dashboard")
    assert(HttpApi.poolFor(Seq(
      Query(T0, T0 + 1, Seq(Matcher("a", MatchType.Eq, "b"))),
      Query(T0, T0 + 1, Seq.empty))) === "bulk")

    // all spec fixtures start the shared context FAIR, so the wall-time
    // assertion below exercises the real mechanism
    assert(spark.sparkContext.getSchedulingMode ===
      org.apache.spark.scheduler.SchedulingMode.FAIR)

    // a store whose bulk read is a genuine multi-wave Spark job occupying
    // every executor slot for ~8 waves, and whose dashboard read is one
    // fast wave — the pool tag (set by the /read handler per request
    // thread) is what lets the dashboard waves interleave
    val C = spark.sparkContext.defaultParallelism
    val started = spark.sparkContext.longAccumulator("bulk_tasks_started")
    val base = T0 // local copy: closures below must not capture the suite
    // frames built in METHOD scope: their closures capture only locals —
    // building them inside the anonymous Storage would drag its $outer
    // (this non-serializable suite) into the task closures
    val bulkFrame = spark.range(0, 8L * C, 1, 8 * C).as[Long]
      .mapPartitions { it => started.add(1); Thread.sleep(300); it }
      .map(i => (i, base + i, 1.0d, """{"__name__":"bulk"}"""))
      .toDF("fingerprint", "timestamp_ms", "value", "labels")
    val dashFrame = spark.range(0, C.toLong, 1, C).as[Long]
      .map(i => (i, base + i, 2.0d, """{"__name__":"dash"}"""))
      .toDF("fingerprint", "timestamp_ms", "value", "labels")
    val slowStore = new graft.storage.Storage {
      override protected def session = spark
      override def write(batch: DataFrame): Unit = ()
      override def read(q: Query): DataFrame =
        if (q.matchers.isEmpty) bulkFrame else dashFrame
    }
    val api = new HttpApi(spark, slowStore)
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // warm the dashboard path once so the race below measures
      // SCHEDULING, not first-call codegen/planning
      HttpApi.remoteRead(url, Seq(
        Query(T0, T0 + 1000, Seq(Matcher("__name__", MatchType.Eq, "dash")))))
      val tAll = System.nanoTime()
      val bulk = Future {
        HttpApi.remoteRead(url, Seq(Query(T0, T0 + 1000, Seq.empty)))
      }
      // wait until the export actually occupies slots, then race it
      val deadline = System.nanoTime() + 10_000_000_000L
      while (started.value < C && !bulk.isCompleted && System.nanoTime() < deadline)
        Thread.sleep(20)
      bulk.value.foreach(v => v.failed.foreach(e => fail(s"bulk export failed early: $e")))
      assert(started.value >= C, "bulk export never started its tasks")
      val t0 = System.nanoTime()
      val dash = HttpApi.remoteRead(url, Seq(
        Query(T0, T0 + 1000, Seq(Matcher("__name__", MatchType.Eq, "dash")))))
      val dashSec = (System.nanoTime() - t0) / 1e9
      assert(dash.head.nonEmpty)
      Await.result(bulk, 60.seconds)
      val bulkSec = (System.nanoTime() - tAll) / 1e9
      // 8 waves x 300 ms keeps the export busy >= ~2.4 s; FAIR must let
      // the one-wave dashboard query through in roughly a wave. Under
      // FIFO the dashboard query instead waits out the whole export, so
      // its latency tracks bulkSec — the relative bound is the signal.
      assert(bulkSec > 1.8, f"export finished too fast to contend ($bulkSec%.2f s)")
      assert(dashSec < math.max(1.5, bulkSec * 0.5),
        f"dashboard query took $dashSec%.2f s alongside a $bulkSec%.2f s export " +
          "— FAIR pools are not isolating the serving path")
    } finally api.stop()
  }
}
