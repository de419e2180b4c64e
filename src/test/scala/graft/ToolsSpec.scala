package graft

import graft.model._
import graft.sources.{Exposition, PromFile}
import graft.storage.ParquetStore
import graft.tools.{FakeExporter, Promload}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ToolsSpec extends AnyFunSuite {

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

  test("promload copy: file -> store -> chunked file round-trip (S10/W1)") {
    val fixture = Seq(
      TimeSeries(Seq(Label("__name__", "m1"), Label("k", "a")),
        (0 until 10).map(i => Sample(T0 + i * 30_000L, i.toDouble))),
      TimeSeries(Seq(Label("__name__", "m2")),
        Seq(Sample(T0 + 15_000L, 42d))))
    val base = java.nio.file.Files.createTempDirectory("graft_promload_").toString
    PromFile.writeLocal(fixture, s"$base/src.bin")

    Promload.fileToStore(spark, s"$base/src.bin", s"$base/store")
    // 5 one-minute chunks over [T0, T0+300s)
    Promload.storeToFile(spark, s"$base/store", s"$base/out", T0, T0 + 300_000L, 60_000L)

    val back = PromFile.read(spark, s"$base/out/*/")
    assert(back.count() === 11)
    val m1 = back.collect()
      .filter(_.getAs[Map[String, String]]("labels")("__name__") == "m1")
    assert(m1.map(_.getAs[Long]("timestamp_ms")).sorted.toSeq
      === (0 until 10).map(T0 + _ * 30_000L))
  }

  test("scrape loop: exposition endpoint -> store (S9 source + copy loop)") {
    // serve fake-exporter output over HTTP, scrape it twice, read back
    val text = FakeExporter.render(FakeExporter.fanOut(Exposition.parse(
      """up{job="demo"} 1
        |http_requests_total{code="200"} 1027
        |""".stripMargin), 2))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/metrics", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = text.getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    val root = java.nio.file.Files.createTempDirectory("graft_scrape_").toString
    try {
      Promload.exporterToStore(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", root,
        scrapes = 2, intervalMs = 10L)
      val back = new ParquetStore(spark, root)
        .readTimeSeries(Query(0L, Long.MaxValue,
          Seq(Matcher("__name__", MatchType.Eq, "up"))))
      assert(back.size === 2) // 2 fanned-out instances
      assert(back.forall(_.samples.nonEmpty))
      assert(back.head.samples.forall(_.value == 1d)) // X9: 1 passes through
    } finally server.stop(0)
  }

  test("fake exporter serve mode: live scrape target feeds the promload scrape loop end-to-end") {
    // the reference's cmd/fake_exporter binds an HTTP endpoint Prometheus
    // scrapes; serve() is that mode — scraped here by the engine's own
    // scrape-loop source (S9), closing the generator->ingest loop
    val base = Exposition.parse(
      """up{job="demo"} 1 1700000000000
        |http_requests_total{code="200"} 1027 1700000000000
        |""".stripMargin)
    val server = FakeExporter.serve(() => base, instances = 3)
    val root = java.nio.file.Files.createTempDirectory("graft_fakescrape_").toString
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/metrics"
      val text = scala.io.Source.fromURL(url, "UTF-8").mkString
      assert((0 until 3).forall(i => text.contains(s"""instance="instance-$i"""")))
      // fixed payload + fixed timestamps => deterministic rendering per scrape
      assert(scala.io.Source.fromURL(url, "UTF-8").mkString === text)
      Promload.exporterToStore(spark, url, root, scrapes = 2, intervalMs = 10L)
      val out = new ParquetStore(spark, root)
        .readTimeSeries(Query(0L, Long.MaxValue, Seq.empty))
      assert(out.size === 6, "2 base series x 3 instances")
      assert(out.filter(_.labels.exists(l => l.name == "__name__" && l.value == "up"))
        .forall(_.samples.forall(_.value == 1d))) // X9: 1 passes through
    } finally server.stop(0)
  }

  test("fake exporter: fan-out + jitter invariants (X9/X10)") {
    val input =
      """up{job="demo"} 1 1700000000000
        |http_requests_total{code="200"} 1027 1700000000000
        |temperature_celsius 23.7 1700000000000
        |special NaN 1700000000000
        |""".stripMargin
    val out = FakeExporter.fanOut(Exposition.parse(input), 3)
    assert(out.size === 12)
    // X10: every series got an instance label
    assert(out.forall(_.labels.exists(_.name == "instance")))
    // X9: 1 and NaN pass through unjittered
    assert(out.filter(_.labels.exists(l => l.value == "up")).forall(_.samples.head.value == 1d))
    assert(out.filter(_.labels.exists(l => l.value == "special")).forall(_.samples.head.value.isNaN))
    // integral stays integral, jitter within ±10%
    val reqs = out.filter(_.labels.exists(_.value == "http_requests_total")).map(_.samples.head.value)
    assert(reqs.forall(v => v == math.rint(v) && v >= 1027 * 0.9 - 1 && v <= 1027 * 1.1 + 1))
    // deterministic
    assert(FakeExporter.render(out) === FakeExporter.render(FakeExporter.fanOut(Exposition.parse(input), 3)))
    // distinct instances get (generally) distinct jitters
    assert(reqs.distinct.size > 1)
  }

  test("compaction: same data back, one sorted file per day, unique dictionary") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val store = new ParquetStore(spark, root)
    def batch(offset: Int) = spark.range(50).select(
      map(lit("__name__"), lit("m"), lit("i"), (col("id") % 5).cast("string")).as("labels"),
      (lit(T0) + (col("id") + offset) * 3_600_000L).as("timestamp_ms"), // spans days
      (col("id") + offset).cast("double").as("value"))
    store.write(batch(0))
    store.write(batch(25)) // overlapping days -> multiple files per partition
    val before = store.read(Query(0L, Long.MaxValue, Seq.empty))
      .select("fingerprint", "timestamp_ms", "value").collect().toSet

    graft.tools.Compact.run(spark, root)
    store.invalidateIndex() // compaction rewrote the dictionary out-of-band

    val after = store.read(Query(0L, Long.MaxValue, Seq.empty))
      .select("fingerprint", "timestamp_ms", "value").collect().toSet
    assert(after === before)
    // one parquet file per day partition
    val dayDirs = new java.io.File(s"$root/samples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(dayDirs.nonEmpty)
    dayDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.getName)
    }
    // dictionary physically unique after compaction
    val dict = spark.read.parquet(s"$root/time_series")
    assert(dict.count() === dict.select("fingerprint").distinct().count())

    // cluster-scale mode: filesPerDay range-splits days by fingerprint —
    // same data back, and every day's files cover DISJOINT fingerprint
    // ranges (a point lookup still reads one file per day)
    graft.tools.Compact.run(spark, root, filesPerDay = 3)
    store.invalidateIndex()
    assert(store.read(Query(0L, Long.MaxValue, Seq.empty))
      .select("fingerprint", "timestamp_ms", "value").collect().toSet === before)
    new java.io.File(s"$root/samples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date=")).foreach { d =>
        val ranges = d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          val stats = spark.read.parquet(f.getAbsolutePath)
            .agg(min("fingerprint"), max("fingerprint")).collect()(0)
          (stats.getLong(0), stats.getLong(1))
        }.sortBy(_._1)
        ranges.sliding(2).foreach {
          case Array((_, hiA), (loB, _)) =>
            assert(hiA <= loB, s"${d.getName}: overlapping fingerprint ranges")
          case _ => ()
        }
      }
  }

  test("blackhole store discards writes and answers empty (S12)") {
    import org.apache.spark.sql.functions._
    val bh = new graft.storage.BlackholeStore(spark)
    bh.write(spark.range(3).select(
      map(lit("__name__"), lit("m")).as("labels"),
      lit(T0).as("timestamp_ms"), col("id").cast("double").as("value")))
    assert(bh.read(Query(0L, Long.MaxValue, Seq.empty)).count() === 0)
    assert(bh.readTimeSeries(Query(0L, Long.MaxValue, Seq.empty)).isEmpty)
  }

  test("streaming ingest reports samples written (A7)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Long, Double)]
    val df = stream.toDF().select(
      map(lit("__name__"), col("_1")).as("labels"),
      col("_2").as("timestamp_ms"), col("_3").as("value"))
    val store = new graft.storage.BlackholeStore(spark)
    // AvailableNow snapshots offsets at start — data must exist beforehand.
    // One addData per row: MemoryStream's numInputRows metric counts offset
    // deltas, so a single 3-row block would report 1.
    stream.addData(("m1", T0, 1.0))
    stream.addData(("m1", T0 + 1, 2.0))
    stream.addData(("m2", T0, 3.0))
    val q = graft.streaming.Ingest.start(df, store,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val written = graft.streaming.Ingest.samplesWritten(q)
    assert(written === 3,
      s"; recentProgress=${q.recentProgress.map(_.json).mkString("\n")}")
  }

  test("rollup retention: native step inside horizon, exact coarse merge past it, hinted reads stable") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_retention_").toString
    val store = new ParquetStore(spark, root, rollupStepMs = 1000L)
    val day = 86400000L
    // integer-valued doubles: partial sums are exact regardless of merge
    // order, so before/after comparisons can demand byte equality
    def batch(off: Long) = spark.range(20).select(
      map(lit("__name__"), lit("m"), lit("i"), (col("id") % 2).cast("string")).as("labels"),
      (lit(T0) + lit(off) + col("id") * 500L).as("timestamp_ms"),
      (col("id") + off % 97).cast("double").as("value"))
    // two batches per range -> multiple partial rows per (fp, bucket)
    store.write(batch(0)); store.write(batch(250))            // aged range
    store.write(batch(day)); store.write(batch(day + 250))    // recent range
    val hq = Query(0L, Long.MaxValue, Seq.empty,
      Some(ReadHints(stepMs = 60000L, func = "avg")))
    val before = store.readTimeSeries(hq)
    val cut0 = T0 + day + 10000L - day / 2
    // materialize pre-compaction facts NOW — the swap below replaces the
    // files under any lazy frame
    val rollupRows = spark.read.parquet(s"$root/samples_rollup")
    val unmergedBefore = rollupRows.groupBy("fingerprint", "bucket_ms").count()
      .where(col("count") > 1).count()
    val agedRowsBefore = rollupRows.where(col("bucket_ms") < cut0).count()
    assert(unmergedBefore > 0, "fixture needs unmerged partial rows")

    graft.tools.Compact.run(spark, root, retention = Some(
      graft.tools.Compact.RollupRetention(horizonMs = day / 2, coarseStepMs = 60000L,
        nowMs = Some(T0 + day + 10000L))))
    store.invalidateIndex()

    val after = spark.read.parquet(s"$root/samples_rollup")
    val cut = T0 + day + 10000L - day / 2
    // inside the horizon: native 1000 ms buckets, exactly 1 row per key
    val recent = after.where(col("bucket_ms") >= cut)
    assert(recent.count() > 0)
    assert(recent.where(pmod(col("bucket_ms"), lit(60000L)) === 0).count() === 0,
      "recent buckets stay at native step (T0 is deliberately 60 s-misaligned)")
    assert(after.groupBy("fingerprint", "bucket_ms").count()
      .where(col("count") > 1).count() === 0, "compaction leaves 1 row per (fp, bucket)")
    // past the horizon: every bucket 60 s-aligned, row count collapsed
    val aged = after.where(col("bucket_ms") < cut)
    assert(aged.count() > 0)
    assert(aged.where(pmod(col("bucket_ms"), lit(60000L)) =!= 0).count() === 0,
      "aged buckets must be coarse-aligned")
    assert(aged.count() < agedRowsBefore)
    // hinted read at a multiple of the coarse step: byte-identical
    assert(store.readTimeSeries(hq) === before)
    // the hint still serves from the rollup, not raw
    assert(store.readSeries(hq).queryExecution.executedPlan.toString
      .contains("samples_rollup"))

    // drop mode: coarseStepMs=0 discards the aged range entirely
    graft.tools.Compact.run(spark, root, retention = Some(
      graft.tools.Compact.RollupRetention(horizonMs = day / 2, coarseStepMs = 0L,
        nowMs = Some(T0 + day + 10000L))))
    store.invalidateIndex()
    assert(spark.read.parquet(s"$root/samples_rollup")
      .where(col("bucket_ms") < cut).count() === 0)
  }

  test("curate driver: one run leaves the complete committed artifact set") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_curate_t").toString
    val r = graft.tools.Curate.run(spark, sf, out, shards = 3, searchIndex = true)
    assert(graft.tools.Curate.committed(spark, out))

    // the opt-in search index serves ranked retrieval over EXACTLY the
    // kept mix: every ranked doc is in the manifest, and the scores match
    // a direct scan of the kept corpus
    val keptIds = graft.SparkEntry.queries("cur2_training_mix")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val served = graft.queries.RetrievalQueries
      .bm25FromIndex(spark, s"$out/bm25_index", Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.nonEmpty && served.forall { case (id, _) => keptIds(id) })
    val keptDocs = graft.queries.Tables(spark, sf, "documents")
      .select("doc_id", "text")
      .where(col("doc_id").isin(keptIds.toSeq: _*))
    val scanned = graft.queries.RetrievalQueries
      .bm25TopK(keptDocs, Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === scanned)
    // a half-written index (marker never flipped) flips committed off —
    // the versioned-snapshot marker is the index's single commit bit
    val marker = new java.io.File(s"$out/bm25_index/_INDEX_SUCCESS")
    assert(marker.exists)
    val payload = java.nio.file.Files.readAllBytes(marker.toPath)
    marker.delete()
    assert(!graft.tools.Curate.committed(spark, out))
    java.nio.file.Files.write(marker.toPath, payload)
    assert(graft.tools.Curate.committed(spark, out))

    // the manifest is exactly cur2's mix
    val manifest = graft.sources.Jsonl.read(spark, s"$out/manifest",
      graft.SparkEntry.queries("cur2_training_mix")(spark, sf).schema)
    val cur2 = graft.SparkEntry.queries("cur2_training_mix")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(manifest.collect().map(_.toSeq).toSet === cur2)
    assert(r.docs === cur2.size)

    // shards reconstruct the training order: (shard, rec#) walk == pos walk
    val back = graft.sources.DocShards.read(spark, s"$out/shards")
    val shardOrder = back.orderBy(col("shard"), col("rec_no"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val posOrder = graft.SparkEntry.queries("cur2_training_mix")(spark, sf)
      .orderBy("pos").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(shardOrder === posOrder)

    // the card rides along
    val card = graft.sources.Jsonl.read(spark, s"$out/card",
      graft.SparkEntry.queries("rp1_corpus_stats")(spark, sf).schema)
    assert(card.count() ===
      graft.SparkEntry.queries("rp1_corpus_stats")(spark, sf).count())
  }

  test("curate from a raw crawl: WARC responses -> extracted corpus -> committed artifacts") {
    import org.apache.spark.sql.functions._
    // synthetic raw crawl: the LINKED fixture pages as response records
    // (per-host urls + cross-host related links; the related block is
    // all-links and short, so extraction output matches the plain fixture)
    val pages = graft.ext.HtmlText.asLinkedPages(spark, "/root/testdata/sf0.001")
      .toDF().limit(200)
    val crawl = java.nio.file.Files.createTempDirectory("graft_crawl_t").toString
    graft.sources.Warc.writeResponses(pages, crawl, shards = 3)
    val out = java.nio.file.Files.createTempDirectory("graft_crawlrun_t").toString
    val r = graft.tools.Curate.fromCrawl(spark, crawl, out, shards = 3)
    assert(graft.tools.Curate.committed(spark, out))
    assert(r.stages.map(_._1).startsWith(Seq("crawl_front", "link_graph", "mix_build")))
    // the materialized corpus carries the documents schema with REAL
    // extraction + provenance: text is the boilerplate-stripped blocks,
    // source the crawl host, lang one of the scorer's classes
    val corpus = spark.read.parquet(s"$out/corpus/documents.parquet")
    assert(corpus.columns.sorted ===
      Array("doc_id", "lang", "n_chars", "source", "text"))
    assert(corpus.count() === 200)
    val row = corpus.where(col("doc_id") === 5).head()
    assert(row.getAs[String]("text") ===
      graft.ext.HtmlText.extract(graft.ext.HtmlText.syntheticLinkedHtml(5L)))
    assert(row.getAs[String]("text") ===
      graft.ext.HtmlText.extract(graft.ext.HtmlText.syntheticHtml(5L)))
    assert(row.getAs[String]("source") === "host5.example")
    assert(Set("en", "de", "es").contains(row.getAs[String]("lang")))
    assert(row.getAs[Long]("n_chars") === row.getAs[String]("text").length.toLong)
    // the host-centrality artifact: the crawl's own link graph through
    // pagerank — every host is a corpus source, mass conserves
    val ranks = spark.read.parquet(s"$out/host_rank.parquet")
    val srcSet = corpus.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(ranks.count() === srcSet.size)
    assert(ranks.collect().map(_.getString(0)).toSet === srcSet)
    val mass = ranks.agg(sum(col("pagerank"))).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-6, s"pagerank mass $mass")
    // the downstream artifact set is run()'s, over the extracted corpus
    val manifest = graft.sources.Jsonl.read(spark, s"$out/manifest",
      graft.SparkEntry.queries("cur2_training_mix")(spark, s"$out/corpus").schema)
    assert(manifest.count() === r.docs)
  }

  test("ext functions are SQL-registered") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(cast(1.0 as float), cast(2.0 as float)),
        |                  array(cast(2.0 as float), cast(4.0 as float))) AS c,
        |       simhash64(array('a','b')) AS s,
        |       size(word_shingles(array('a','b','c'), 2)) AS n""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(r.getLong(1) === graft.ext.ExtOps.simhash(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array("a", "b").map(org.apache.spark.unsafe.types.UTF8String.fromString))))
    assert(r.getInt(2) === 2)
  }

  test("qjobs: a registered query's job profile repeats exactly, warm-up excluded") {
    val sf = "/root/testdata/sf0.001"
    // each call runs the query once uncounted, then once counted; the
    // marker-job drain makes the counts exact, so two calls agree
    val first = graft.tools.Diag.queryJobProfile(spark, "q1_agg", sf)
    val (jobs, stages, tasks) = first
    assert(jobs > 0 && stages > 0 && tasks >= stages, s"profile: $first")
    assert(graft.tools.Diag.queryJobProfile(spark, "q1_agg", sf) === first)
  }

  test("bench: a pinnable board is never the full artifact's target") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pin_")
    def board(name: String, body: String) =
      java.nio.file.Files.write(dir.resolve(name), body.getBytes("UTF-8")).toString
    assert(Bench.pinned(board("pin.json", """{"metric":"total","pinnable":true,"sf":"x"}""")))
    assert(!Bench.pinned(board("dirty.json", """{"metric":"total","pinnable":false}""")))
    assert(!Bench.pinned(dir.resolve("absent.json").toString))
  }

  test("full postings index: range-sharded write, index-served boolean AND ≡ scan") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_fullidx_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWrite(docs, path, shards = 4)
    // the artifact holds exactly the corpus's distinct (term, doc_id) pairs
    val idx = spark.read.parquet(path)
    val expectPairs = docs
      .select(col("doc_id"),
        explode(array_distinct(graft.ext.TextAnalysis.words(col("text")))).as("term"))
    assert(idx.count() === expectPairs.count())
    assert(idx.join(expectPairs, Seq("doc_id", "term"), "left_anti").isEmpty)
    // index-served boolean AND answers exactly what the scan form answers
    val terms = Seq("spark", "join")
    val served = graft.queries.RetrievalQueries
      .booleanAndFromIndex(spark, path, terms, 50)
      .collect().map(_.getLong(0)).toSeq
    val scanned = graft.queries.RetrievalQueries.booleanAnd(docs, terms, 50)
      .collect().map(_.getLong(0)).toSeq
    assert(served === scanned && served.nonEmpty)
    // the serving scan PUSHES the term predicate into parquet
    val plan = graft.queries.RetrievalQueries
      .booleanAndFromIndex(spark, path, terms, 50)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*term".r.findFirstIn(plan).isDefined,
      s"term isin must reach the parquet scan:\n$plan")
  }

  test("scored full index: BM25 served from the artifact ≡ full scan, term pushdown") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_scoredidx_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(docs, path, shards = 4)
    // served BM25 answers exactly what the one-pass scan form answers
    val terms = Seq("spark", "join", "window")
    val served = graft.queries.RetrievalQueries
      .bm25FromIndex(spark, path, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scanned = graft.queries.RetrievalQueries.bm25TopK(docs, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === scanned && served.nonEmpty)
    // the posting scan PUSHES the term predicate into parquet — serving
    // reads |terms| posting runs, never the corpus. bm25FromIndex
    // localCheckpoints the pruned scan (it feeds df counts AND scoring),
    // so the final plan shows the checkpointed RDD; the pushdown fires
    // when that checkpoint materializes — assert it on the identical
    // pre-checkpoint scan expression the kernel builds.
    val plan = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .where(col("term").isin(terms: _*))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*term".r.findFirstIn(plan).isDefined,
      s"term isin must reach the postings scan:\n$plan")
    // stats artifact carries exactly the corpus scalars
    val st = graft.queries.RetrievalQueries.readScoredStats(spark, path).head()
    assert(st.getDouble(0) === docs.count().toDouble)

    // CAPPED serve (the impact-ordered rung): at a generous cap the
    // answer is EXACT; at a binding cap the candidate set shrinks to
    // each term's highest-impact prefix and the rank predicate reaches
    // the parquet scan
    val capped = graft.queries.RetrievalQueries
      .bm25FromIndexCapped(spark, path, terms, 20, 1L << 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(capped === scanned, "generous cap must be exact (cap ≥ every df)")
    val posts = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
    val fullRows = posts.where(col("term").isin(terms: _*)).count()
    val capRows = posts
      .where(col("term").isin(terms: _*) && col("rank") <= 3).count()
    assert(capRows < fullRows && capRows <= 3L * terms.size,
      "a binding cap must read only the per-term impact prefix")
    // rank 1 really is the term's highest-impact posting: no other
    // posting of the same term has a larger tf-part score
    val impact = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
        lit(st.getDouble(2))))
    val byTerm = posts.where(col("term").isin(terms: _*))
      .select(col("term"), col("rank"), impact.as("imp"))
    val best = byTerm.where(col("rank") === 1)
      .groupBy("term").agg(max(col("imp")).as("imp1"))
    val violated = byTerm.join(best, "term")
      .where(col("imp") > col("imp1") + lit(1e-12)).count()
    assert(violated === 0L, "rank must be the per-term impact order")
    val capPlan = posts
      .where(col("term").isin(terms: _*) && col("rank") <= 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*rank".r.findFirstIn(capPlan).isDefined,
      s"rank cap must reach the postings scan:\n$capPlan")
  }

  test("scored full index append: incremental maintenance ≡ full rebuild") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val odd = docs.where(col("doc_id") % 2 === 1)
    val even = docs.where(col("doc_id") % 2 === 0)
    val inc = java.nio.file.Files.createTempDirectory("graft_scoredinc_")
      .toString + "/index"
    val full = java.nio.file.Files.createTempDirectory("graft_scoredfull_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(odd, inc, shards = 4)
    graft.queries.RetrievalQueries.fullIndexAppendScored(even, inc, shards = 4)
    graft.queries.RetrievalQueries.fullIndexWriteScored(docs, full, shards = 4)
    // postings: identical row SET (append adds a generation, never rows)
    val pInc = graft.queries.RetrievalQueries.readScoredPostings(spark, inc)
    val pFull = graft.queries.RetrievalQueries.readScoredPostings(spark, full)
    assert(pInc.count() === pFull.count())
    assert(pInc.join(pFull, Seq("term", "doc_id", "dl", "tf"), "left_anti").isEmpty)
    // stats: n exact, avgdl merged from the stored exact sum
    val sInc = graft.queries.RetrievalQueries.readScoredStats(spark, inc).head()
    val sFull = graft.queries.RetrievalQueries.readScoredStats(spark, full).head()
    assert(sInc.getDouble(0) === sFull.getDouble(0))
    assert(math.abs(sInc.getDouble(2) - sFull.getDouble(2)) < 1e-9)
    // df sidecar: the append's by-sum merge equals a from-scratch build's
    // sidecar term for term (exact under the no-duplicate-doc contract)
    val dInc = graft.queries.RetrievalQueries.readScoredDfs(spark, inc).get
    val dFull = graft.queries.RetrievalQueries.readScoredDfs(spark, full).get
    assert(dInc.count() === dFull.count())
    assert(dInc.join(dFull, Seq("term", "df"), "left_anti").isEmpty,
      "appended sidecar dfs must merge by sum to the rebuild's values")
    // the served ranked answer is identical
    val terms = Seq("spark", "join", "window")
    val a = graft.queries.RetrievalQueries.bm25FromIndex(spark, inc, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.queries.RetrievalQueries.bm25FromIndex(spark, full, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b && a.nonEmpty)
  }

  test("scored full index: zero-downtime commits, exact stats under racing appenders") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_scoredzdt_")
      .toString + "/index"
    val third0 = docs.where(col("doc_id") % 3 === 0)
    val third1 = docs.where(col("doc_id") % 3 === 1)
    val third2 = docs.where(col("doc_id") % 3 === 2)
    graft.queries.RetrievalQueries.fullIndexWriteScored(third0, path, shards = 4)
    assert(graft.queries.RetrievalQueries.scoredIndexCommitted(spark, path))

    // TWO RACING APPENDERS: the mutation lock serializes them — exactly
    // one wins each acquire, the loser fails FAST (never a lost stats
    // update, never a torn snapshot); retrying the loser converges
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(d: org.apache.spark.sql.DataFrame) = new Thread(() =>
      try graft.queries.RetrievalQueries.fullIndexAppendScored(d, path, 4)
      catch { case e: Throwable => errs.add(e) })
    val (ta, tb) = (appender(third1), appender(third2))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.size <= 1, s"at most one appender may lose: $errs")
    errs.forEach(e => assert(e.isInstanceOf[IllegalStateException],
      s"the loser must fail the LOCK, not corrupt state: $e"))
    if (errs.size == 1) { // replay the loser serially — appends converge
      val doneN = graft.queries.RetrievalQueries.readScoredStats(spark, path)
        .head().getDouble(0)
      val loser = if (doneN == third0.count() + third1.count()) third2 else third1
      graft.queries.RetrievalQueries.fullIndexAppendScored(loser, path, 4)
    }
    // stats EXACT after the race + replay: sum_dl additive, n additive
    val st = graft.queries.RetrievalQueries.readScoredStats(spark, path).head()
    assert(st.getDouble(0) === docs.count().toDouble)
    val wantSum = docs
      .select(coalesce(sum(size(split(lower(trim(col("text"))), "\\s+"))
        .cast("double")), lit(0.0))).head().getDouble(0)
    assert(math.abs(st.getDouble(1) - wantSum) < 1e-6 * (wantSum + 1))
    // df sidecar exact after the race + replay, same discipline as stats
    val dfsRaced = graft.queries.RetrievalQueries.readScoredDfs(spark, path).get
    val dfsRecount = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    assert(dfsRaced.join(dfsRecount, Seq("term", "df"), "left_anti").isEmpty &&
      dfsRaced.count() === dfsRecount.count(),
      "sidecar dfs must stay exact under racing appenders + replay")

    // ZERO-DOWNTIME: committed() stays true while another append runs
    // (poll from a reader thread during the mutation)
    val sawUncommitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopPoll = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => while (!stopPoll.get()) {
      if (!graft.queries.RetrievalQueries.scoredIndexCommitted(spark, path))
        sawUncommitted.set(true)
      Thread.sleep(1)
    })
    poller.start()
    try graft.queries.RetrievalQueries.fullIndexWriteScored(docs, path, shards = 4)
    finally { stopPoll.set(true); poller.join() }
    assert(!sawUncommitted.get(),
      "a rebuild must never un-commit the index — readers serve the old snapshot")
    // the rebuild re-coalesced the generations and still serves exactly
    val terms = Seq("spark", "join", "window")
    val served = graft.queries.RetrievalQueries.bm25FromIndex(spark, path, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scanned = graft.queries.RetrievalQueries.bm25TopK(docs, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === scanned && served.nonEmpty)
  }

  test("ANN index artifact: commit protocol, served ≡ inline, cell partition pruning") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_")
      .toString + "/index"
    assert(!graft.ext.AnnIndex.committed(spark, path))
    val cents = graft.ext.AnnIndex.write(spark, emb, path, nlist = 16)
    assert(graft.ext.AnnIndex.committed(spark, path))
    assert(cents.length === 16)
    // centroid round-trip is exact (doubles through parquet)
    val reread = graft.ext.AnnIndex.readCentroids(spark, path)
    assert(reread.zip(cents).forall { case (a, b) => a.sameElements(b) })
    // PQ codebooks ride the same artifact, (m, k)-shaped and round-tripped
    val pqCb = graft.ext.AnnIndex.readPqCodebooks(spark, path)
    assert(pqCb.length === graft.queries.SimilarityQueries.PqM)
    assert(pqCb.forall(_.length === graft.queries.SimilarityQueries.PqK))
    val pqWant = graft.queries.SimilarityQueries.pqCodebooksOf(
      emb.select("vec_id", "embedding"))
    assert(pqCb.zip(pqWant).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // every corpus vector is in the artifact exactly once, with its cell
    val codes = graft.ext.AnnIndex.readCodes(spark, path)
    assert(codes.count() === emb.count())
    assert(codes.select("vec_id").distinct().count() === emb.count())
    // served s3-shaped query ≡ the inline-trained s3 answer (same seed →
    // same centroids → same probes/candidates/ranking)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = graft.queries.SimilarityQueries
      .ivfServedTopK(spark, path, queries, 6, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = graft.SparkEntry.queries("s3_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === inline && served.nonEmpty)
    // the serve PRUNES to the probed cells at the directory level
    val plan = graft.queries.SimilarityQueries
      .ivfServedTopK(spark, path, queries, 6, 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell isin must prune artifact partitions:\n$plan")
    // the residual-encoded IVFADC serve answers from the same artifact
    // (full contract in the s14 gate companion; this pins it runnable
    // and cell-pruned)
    val pqrPlanDf = graft.queries.SimilarityQueries
      .ivfPqrServedTopK(spark, path, queries, 6, 5)
    assert(pqrPlanDf.count() > 0)
    val pqrPlan = pqrPlanDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(pqrPlan).isDefined,
      s"residual serve must prune artifact partitions:\n$pqrPlan")
    // rebuild-in-place: marker drops during rebuild, returns on commit
    graft.ext.AnnIndex.write(spark, emb, path, nlist = 16)
    assert(graft.ext.AnnIndex.committed(spark, path))
  }

  test("ANN index append: frozen-centroid incremental maintenance, served ≡ reference") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val baseSlice = emb.where(col("vec_id") % 10 < 8)  // d9's snapshot split
    val newSlice = emb.where(col("vec_id") % 10 >= 8)
    val path = java.nio.file.Files.createTempDirectory("graft_annappend_")
      .toString + "/index"
    graft.ext.AnnIndex.write(spark, baseSlice, path, nlist = 16)
    graft.ext.AnnIndex.append(spark, path, newSlice)
    assert(graft.ext.AnnIndex.committed(spark, path))
    val codes = graft.ext.AnnIndex.readCodes(spark, path)
    assert(codes.count() === emb.count())
    assert(codes.select("vec_id").distinct().count() === emb.count())
    // EVERY row's cell (build-time transform and append-time map-side
    // assignment alike) equals the frozen-centroid argmin
    val cents = graft.ext.AnnIndex.readCentroids(spark, path)
    val mismatch = codes.select(col("vec_id"), col("cell"),
        graft.queries.SimilarityQueries.nearestCell(
          transform(col("embedding"), _.cast("double")), cents).as("cell_w"))
      .where(col("cell") =!= col("cell_w")).count()
    assert(mismatch === 0L, "appended/built cells must be the frozen-centroid argmin")
    // appended RESIDUAL columns carry the stored residual codebooks'
    // encoding: pqr_rnrm must equal the reconstruction norm
    // ‖centroid(cell) + r̂‖ on new-slice rows (the IVFADC contract)
    locally {
      val cbr = graft.ext.AnnIndex.readPqrCodebooks(spark, path)
      val cbrLit = array(cbr.map(mk =>
        array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
      val rhat = flatten(transform(sequence(lit(0), lit(cbr.length - 1)), m =>
        element_at(element_at(cbrLit, m + 1),
          element_at(col("pqr_codes"), m + 1) + 1)))
      import spark.implicits._
      val centsDf = graft.ext.AnnIndex.readCentroids(spark, path).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cv")
      def ddotL(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
      val xhat = zip_with(col("cv"), rhat, _ + _)
      val badR = graft.ext.AnnIndex.readCodes(spark, path)
        .join(newSlice.select("vec_id"), "vec_id")
        .join(broadcast(centsDf), "cell")
        .select(col("pqr_rnrm"), xhat.as("xh"))
        .where(abs(col("pqr_rnrm") - sqrt(ddotL(col("xh"), col("xh"))))
          > lit(1e-9) * (col("pqr_rnrm") + 1)).count()
      assert(badR === 0L, "appended pqr_rnrm must equal the reconstruction norm")
    }
    // appended PQ columns carry the STORED codebooks' encoding: the
    // code-only norm identity holds on new-slice rows
    val cb = graft.ext.AnnIndex.readPqCodebooks(spark, path)
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val recon = flatten(transform(sequence(lit(0), lit(cb.length - 1)), m =>
      element_at(element_at(cbLit, m + 1), element_at(col("pq_codes"), m + 1) + 1)))
    def ddot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val badNorm = codes.join(newSlice.select("vec_id"), "vec_id")
      .select(col("pq_rnrm"), recon.as("recon"))
      .where(abs(col("pq_rnrm") - sqrt(ddot(col("recon"), col("recon"))))
        > lit(1e-6) * (col("pq_rnrm") + 1)).count()
    assert(badNorm === 0L, "appended pq_rnrm must equal the reconstruction norm")
    // serving the grown index ≡ an independent window re-rank over the
    // probed cells of the SAME frozen centroids (s3Invariants' style)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = graft.queries.SimilarityQueries
      .ivfServedTopK(spark, path, queries, 6, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probes = graft.queries.SimilarityQueries.probeSet(
      queries.collect(), cents, 6)
    import spark.implicits._
    val probeDf = probes.toDF("query_id", "cell")
    val assigned = codes.select(col("vec_id"), col("embedding"), col("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val want = assigned.join(probeDf, "cell")
      .join(queries, "query_id")
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos", graft.ext.extfunctions.cosine_sim(col("qv"), col("embedding")))
      .where(col("cos").isNotNull && !isnan(col("cos")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"), round(col("cos"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === want && served.nonEmpty)
    // the grown index actually serves NEW vectors as neighbors
    assert(served.exists { case (_, nb, _) => nb % 10 >= 8 },
      "no appended vector ever surfaces: append is not being served")
    // MUTATION GUARD: a held build lock makes a second builder fail fast
    // (concurrent write/append would interleave table overwrites); the
    // completed operations above released theirs, so the index mutates
    // freely once the lock is gone
    val lock = new java.io.File(s"$path/._INDEX_LOCK")
    assert(!lock.exists, "a completed build/append must release its lock")
    java.nio.file.Files.write(lock.toPath, "someone-else".getBytes)
    intercept[IllegalStateException] {
      graft.ext.AnnIndex.append(spark, path, newSlice.limit(1))
    }
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath)) === "someone-else",
      "a failed acquirer must not delete a lock it does not own")
    lock.delete()
  }

  test("ANN index zero-downtime maintenance: old snapshot serves through append and rebuild") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val baseSlice = emb.where(col("vec_id") % 10 < 8)
    val newSlice = emb.where(col("vec_id") % 10 >= 8)
    val path = java.nio.file.Files.createTempDirectory("graft_annzdt_")
      .toString + "/index"
    graft.ext.AnnIndex.write(spark, baseSlice, path, nlist = 16)
    val c0 = graft.ext.AnnIndex.readCodes(spark, path).count()
    val snap0 = graft.ext.AnnIndex.readSnapshot(spark, path).get

    // APPEND: the beforeCommit seam runs after the new generation is
    // fully written, immediately before the atomic flip — a reader at
    // that moment must see the index COMMITTED and EXACTLY the old rows
    var duringAppend = Option.empty[(Boolean, Long, Int)]
    graft.ext.AnnIndex.append(spark, path, newSlice, beforeCommit = () =>
      duringAppend = Some((
        graft.ext.AnnIndex.committed(spark, path),
        graft.ext.AnnIndex.readCodes(spark, path).count(),
        graft.ext.AnnIndex.readSnapshot(spark, path).get.v)))
    assert(duringAppend.contains((true, c0, snap0.v)),
      "a reader mid-append must serve the untouched old snapshot")
    val c1 = graft.ext.AnnIndex.readCodes(spark, path).count()
    assert(c1 === emb.count(), "the flip must publish the appended rows")
    val snap1 = graft.ext.AnnIndex.readSnapshot(spark, path).get
    assert(snap1.v === snap0.v + 1 && snap1.codes.size === 2
      && snap1.centroids === snap0.centroids,
      "append extends the generation list under frozen centroids")

    // REBUILD: same contract — the old snapshot serves while v=N+1 builds
    var duringRebuild = Option.empty[(Boolean, Long, Int)]
    graft.ext.AnnIndex.write(spark, emb, path, nlist = 16, beforeCommit = () =>
      duringRebuild = Some((
        graft.ext.AnnIndex.committed(spark, path),
        graft.ext.AnnIndex.readCodes(spark, path).count(),
        graft.ext.AnnIndex.readSnapshot(spark, path).get.v)))
    assert(duringRebuild.contains((true, c1, snap1.v)),
      "a reader mid-rebuild must serve the untouched old snapshot")
    val snap2 = graft.ext.AnnIndex.readSnapshot(spark, path).get
    assert(snap2.v === snap1.v + 1 && snap2.codes.size === 1,
      "rebuild re-coalesces the generations into one")
    // retention: the replaced snapshot's dirs survive one flip (readers
    // mid-scan), anything older is swept at the NEXT rebuild
    assert(new java.io.File(s"$path/codes/v=0").exists,
      "the immediately-prior snapshot must be retained for in-flight readers")
    graft.ext.AnnIndex.write(spark, emb, path, nlist = 16)
    assert(!new java.io.File(s"$path/codes/v=0").exists,
      "two flips later the old snapshot's dirs are swept")
    assert(new java.io.File(s"$path/codes/v=${snap2.v}").exists)

    // a holder whose lock is BROKEN mid-build must NOT commit (the
    // pre-flip token re-verify): break it through the seam
    val snapBefore = graft.ext.AnnIndex.readSnapshot(spark, path).get
    val lock = new java.io.File(s"$path/._INDEX_LOCK")
    intercept[IllegalStateException] {
      graft.ext.AnnIndex.append(spark, path, newSlice.limit(1),
        beforeCommit = () =>
          java.nio.file.Files.write(lock.toPath, "breaker".getBytes))
    }
    assert(graft.ext.AnnIndex.readSnapshot(spark, path).get === snapBefore,
      "a broken-lock holder must never flip the marker")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath)) === "breaker",
      "the aborting holder must not delete the breaker's lock")
    lock.delete()

    // a STALE lock from a dead builder breaks, and the breaker proceeds
    // only after reading its OWN token back (the TOCTOU guard)
    java.nio.file.Files.write(lock.toPath, "dead-builder".getBytes)
    spark.conf.set("graft.ann.lockStaleMs", "1")
    try {
      Thread.sleep(10)
      graft.ext.AnnIndex.append(spark, path, newSlice.limit(1))
      assert(!lock.exists, "the breaker must release its own lock after commit")
    } finally spark.conf.unset("graft.ann.lockStaleMs")
  }

  test("ANN index rebuild with pq=false drops the PQ surface cleanly") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_annpqoff_")
      .toString + "/index"
    graft.ext.AnnIndex.write(spark, emb, path, nlist = 16)
    assert(graft.ext.AnnIndex.readPqCodebooks(spark, path).nonEmpty)
    // rebuild WITHOUT pq over the pq snapshot: the marker (not a leftover
    // directory) decides — readers and appenders see a clean non-PQ index
    graft.ext.AnnIndex.write(spark, emb, path, nlist = 16, pq = false)
    assert(!graft.ext.AnnIndex.readSnapshot(spark, path).get.pq)
    intercept[IllegalStateException] {
      graft.ext.AnnIndex.readPqCodebooks(spark, path)
    }
    intercept[IllegalStateException] {
      graft.ext.AnnIndex.readPqrCodebooks(spark, path)
    }
    assert(!graft.ext.AnnIndex.readCodes(spark, path).columns.contains("pq_codes"))
    // append consults the marker: no PQ columns encoded against stale
    // codebooks, no mixed parquet schemas
    val before = graft.ext.AnnIndex.readCodes(spark, path).count()
    graft.ext.AnnIndex.append(spark, path,
      emb.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")).limit(3))
    val grown = graft.ext.AnnIndex.readCodes(spark, path)
    assert(grown.count() === before + 3)
    assert(!grown.columns.contains("pq_codes") && !grown.columns.contains("pq_rnrm"))
    // an EMPTY batch is a no-op: no fileless generation ever commits
    val snapBefore = graft.ext.AnnIndex.readSnapshot(spark, path).get
    graft.ext.AnnIndex.append(spark, path, emb.where(col("vec_id") < 0))
    assert(graft.ext.AnnIndex.readSnapshot(spark, path).get === snapBefore)
    assert(graft.ext.AnnIndex.readCodes(spark, path).count() === before + 3)
  }

  test("ANN index generation compaction: one g=0, served hash-equal, committed throughout") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_anncompact_")
      .toString + "/index"
    // base build + TWO appends → three generation dirs unioned per query
    graft.ext.AnnIndex.write(spark, emb.where(col("vec_id") % 3 === 0), path, nlist = 16)
    graft.ext.AnnIndex.append(spark, path, emb.where(col("vec_id") % 3 === 1))
    graft.ext.AnnIndex.append(spark, path, emb.where(col("vec_id") % 3 === 2))
    val snapPre = graft.ext.AnnIndex.readSnapshot(spark, path).get
    assert(snapPre.codes.size === 3)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def serveAll() = Seq(
      graft.queries.SimilarityQueries.ivfServedTopK(spark, path, queries, 6, 5),
      graft.queries.SimilarityQueries.ivfPqServedTopK(spark, path, queries, 6, 5),
      graft.queries.SimilarityQueries.ivfPqrServedTopK(spark, path, queries, 6, 5))
      .map(_.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val preServe = serveAll()
    val preRows = graft.ext.AnnIndex.readCodes(spark, path)
      .collect().map(_.toString).toSet

    // compact: the beforeCommit seam runs after the merged g=0 is fully
    // written, immediately before the flip — a reader at that moment
    // still serves the THREE-generation snapshot, committed
    var during = Option.empty[(Boolean, Int, Int)]
    graft.ext.AnnIndex.compactGenerations(spark, path, beforeCommit = () => {
      val s = graft.ext.AnnIndex.readSnapshot(spark, path).get
      during = Some((graft.ext.AnnIndex.committed(spark, path), s.v, s.codes.size))
    })
    assert(during.contains((true, snapPre.v, 3)),
      "a reader mid-compaction must serve the untouched old snapshot")
    val snapPost = graft.ext.AnnIndex.readSnapshot(spark, path).get
    assert(snapPost.v === snapPre.v + 1 && snapPost.codes.size === 1,
      "compaction must publish ONE generation under v=N+1")
    assert(snapPost.centroids === snapPre.centroids &&
      snapPost.pqcb === snapPre.pqcb && snapPost.pqrcb === snapPre.pqrcb,
      "compaction must not touch centroids or codebooks")
    // the coded corpus is IDENTICAL row-for-row (pure layout rewrite)
    val postRows = graft.ext.AnnIndex.readCodes(spark, path)
      .collect().map(_.toString).toSet
    assert(postRows === preRows, "compaction must preserve every encoded row")
    // every serve form answers hash-equal to its pre-compaction answer
    assert(serveAll() === preServe)
    // retention: the prior generation dirs survive one flip (in-flight
    // readers), the live centroid/codebook dirs are NEVER swept
    assert(new java.io.File(s"$path/${snapPre.codes.head}").exists,
      "the replaced generations must be retained one flip for in-flight readers")
    assert(new java.io.File(s"$path/${snapPost.centroids}").exists)
    // compacting a single-generation snapshot is a no-op
    graft.ext.AnnIndex.compactGenerations(spark, path)
    assert(graft.ext.AnnIndex.readSnapshot(spark, path).get === snapPost)
    assert(!new java.io.File(s"$path/._INDEX_LOCK").exists,
      "a completed/no-op compaction must release its lock")
  }

  test("scored index generation compaction: global impact prefix, serve hash-equal") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_scoredcompact_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(
      docs.where(col("doc_id") % 3 === 0), path, shards = 4)
    graft.queries.RetrievalQueries.fullIndexAppendScored(
      docs.where(col("doc_id") % 3 === 1), path, shards = 4)
    graft.queries.RetrievalQueries.fullIndexAppendScored(
      docs.where(col("doc_id") % 3 === 2), path, shards = 4)
    val snapPre = graft.ext.ArtifactCommit.readMarker(spark, path).get
    assert(snapPre("postings").split(',').length === 3)
    val terms = Seq("spark", "join", "window")
    def serves() = Seq(
      graft.queries.RetrievalQueries.bm25FromIndex(spark, path, terms, 20),
      graft.queries.RetrievalQueries.bm25FromIndexCapped(spark, path, terms, 20, 1L << 20),
      graft.queries.RetrievalQueries.booleanAndFromScoredIndex(
        spark, path, Seq("spark", "join"), 50))
      .map(_.collect().map(_.toString).toSeq)
    val preServe = serves()

    var during = Option.empty[(Boolean, Int)]
    graft.queries.RetrievalQueries.compactScoredIndex(spark, path, shards = 4,
      beforeCommit = () => {
        val m = graft.ext.ArtifactCommit.readMarker(spark, path)
        during = Some((m.isDefined, m.get("postings").split(',').length))
      })
    assert(during.contains((true, 3)),
      "a reader mid-compaction must serve the untouched old snapshot")
    val snapPost = graft.ext.ArtifactCommit.readMarker(spark, path).get
    assert(snapPost("v").toInt === snapPre("v").toInt + 1)
    assert(snapPost("postings").split(',').length === 1,
      "compaction must publish ONE postings generation")
    assert(snapPost("stats") === snapPre("stats"),
      "stats are already exact — compaction must not touch them")
    assert(snapPost("dfs") === snapPre("dfs"),
      "dfs are generation-invariant — compaction must carry the sidecar forward")
    // and the carried sidecar still equals a recount of the compacted postings
    val dfsPost = graft.queries.RetrievalQueries.readScoredDfs(spark, path).get
    val dfsWant = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    assert(dfsPost.join(dfsWant, Seq("term", "df"), "left_anti").isEmpty &&
      dfsPost.count() === dfsWant.count())
    // every serve form answers hash-equal to its pre-compaction answer
    assert(serves() === preServe)
    // the impact rank is GLOBAL again: exactly one rank-1 row per term
    // (three gen-local prefixes would carry three), and it is the term's
    // true max-impact posting
    val posts = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
    val st = graft.queries.RetrievalQueries.readScoredStats(spark, path).head()
    val rank1 = posts.where(col("term").isin(terms: _*) && col("rank") === 1)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .where(col("n") =!= 1).count()
    assert(rank1 === 0L, "post-compaction ranks must be globally unique per term")
    val impact = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(st.getDouble(2))))
    val byTerm = posts.where(col("term").isin(terms: _*))
      .select(col("term"), col("rank"), impact.as("imp"))
    val best = byTerm.where(col("rank") === 1)
      .groupBy("term").agg(max(col("imp")).as("imp1"))
    assert(byTerm.join(best, "term")
      .where(col("imp") > col("imp1") + lit(1e-12)).count() === 0L,
      "post-compaction rank 1 must be the term's global max-impact posting")
    // postings row set unchanged (pure re-rank + layout rewrite)
    val full = java.nio.file.Files.createTempDirectory("graft_scoredcfull_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(docs, full, shards = 4)
    val pFull = graft.queries.RetrievalQueries.readScoredPostings(spark, full)
    assert(posts.count() === pFull.count())
    assert(posts.join(pFull, Seq("term", "doc_id", "dl", "tf", "rank"),
      "left_anti").isEmpty,
      "compacted postings must equal a from-scratch build's, rank included")
    // no-op on a single generation
    graft.queries.RetrievalQueries.compactScoredIndex(spark, path, shards = 4)
    assert(graft.ext.ArtifactCommit.readMarker(spark, path).get === snapPost)
  }

  test("boolean AND from the scored artifact ≡ scan form, term pushdown, gen-transparent") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_boolscored_")
      .toString + "/index"
    // split build + append so the AND must see BOTH generations
    graft.queries.RetrievalQueries.fullIndexWriteScored(
      docs.where(col("doc_id") % 2 === 0), path, shards = 4)
    graft.queries.RetrievalQueries.fullIndexAppendScored(
      docs.where(col("doc_id") % 2 === 1), path, shards = 4)
    val terms = Seq("spark", "join")
    val served = graft.queries.RetrievalQueries
      .booleanAndFromScoredIndex(spark, path, terms, 50)
      .collect().map(_.getLong(0)).toSeq
    val scanned = graft.queries.RetrievalQueries.booleanAnd(docs, terms, 50)
      .collect().map(_.getLong(0)).toSeq
    assert(served === scanned && served.nonEmpty)
    // docs from both generations surface (even AND odd ids present)
    assert(served.exists(_ % 2 === 0) && served.exists(_ % 2 === 1),
      "the AND must be generation-transparent")
    // the term predicate reaches every generation's parquet scan
    val plan = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .where(col("term").isin(terms: _*))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*term".r.findFirstIn(plan).isDefined,
      s"term isin must reach the postings scan:\n$plan")
  }

  test("two-stage capped serve: exact where the plain prefix is structurally wrong") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The planted head+tail scenario the r15 10 M-doc measurement proved
    // hard truncation cannot answer (SCALE.md iicap): 800 SHORT docs
    // carry the stop-word-grade head term "the" (its top-impact prefix
    // is all short docs); 60 LONG docs carry the rare tail term "zebra",
    // and the 30 of them that also carry "the" (ids 5000+) are the true
    // top docs — but their "the" postings rank far past any binding cap,
    // so the plain prefix serve can never see the head term's mass on
    // them. Unique per-doc fillers fix dl without adding shared terms.
    def filler(i: Int, n: Int) = (0 until n).map(j => s"f${i}x$j").mkString(" ")
    val head = (1 to 800).map(i => (i.toLong, s"the ${filler(i, 2)}"))
    val zebraThe = (5000 until 5030).map(i => (i.toLong, s"zebra the ${filler(i, 10)}"))
    val zebraOnly = (1000 until 1030).map(i => (i.toLong, s"zebra ${filler(i, 11)}"))
    val docs = (head ++ zebraThe ++ zebraOnly).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_twostage_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(docs, path, shards = 4)
    val terms = Seq("the", "zebra")
    val cap = 60L // binds hard on "the" (df 830), clears "zebra" (df 60)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = rows(graft.queries.RetrievalQueries
      .bm25FromIndex(spark, path, terms, 20))
    assert(exact.map(_._1).toSet === (5000L until 5020L).toSet,
      "scenario check: exact top-20 must be zebra+the docs")
    val plain = rows(graft.queries.RetrievalQueries
      .bm25FromIndexCapped(spark, path, terms, 20, cap))
    val overlap = plain.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    assert(overlap <= 5,
      s"scenario check: the plain prefix must be structurally wrong here ($overlap/20)")
    val two = rows(graft.queries.RetrievalQueries
      .bm25FromIndexTwoStage(spark, path, terms, 20, cap))
    assert(two === exact,
      "two-stage must complete the capped candidate set to the exact answer")

    // 100 TB plan contracts of the two stages. Stage 2's TRUE-df input
    // is the snapshot's (term, df) SIDECAR — r16 recounted it per query
    // from the full term runs, so a head term's serve cost scaled with
    // its corpus-sized posting run for a build-time constant (the r16
    // verdict's one `weak`). The sidecar must exist, agree with a
    // recount, and be what the serve actually reads.
    val snapM = graft.ext.ArtifactCommit.readMarker(spark, path).get
    assert(snapM.contains("dfs"), "the build must publish the df sidecar")
    val sidecar = graft.queries.RetrievalQueries.readScoredDfs(spark, path).get
    val recount = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    assert(sidecar.join(recount, Seq("term", "df"), "left_anti").isEmpty &&
      sidecar.count() === recount.count(),
      "sidecar dfs must equal a recount of the postings, term for term")
    // the sidecar read is page-skippable: the bounded term isin pushes
    // into its term-sorted parquet
    val scPlan = sidecar.where(col("term").isin(terms: _*))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*term".r.findFirstIn(scPlan).isDefined,
      s"term isin must reach the sidecar scan:\n$scPlan")
    // the serve itself: candidate semi-join and the df/stats joins must
    // broadcast (candidates ≤ |terms|·cap rows, dfs ≤ |terms| rows,
    // stats 1 row) and top-k must be TakeOrderedAndProject — a
    // SortMergeJoin or global Sort here would shuffle the posting runs.
    // The df input must come from the sidecar dir, and the serve must
    // carry NO aggregate over a postings scan (the r16 recount's shape —
    // its only aggregate is the doc-keyed score sum over the
    // checkpointed candidate rows).
    val served = graft.queries.RetrievalQueries
      .bm25FromIndexTwoStage(spark, path, terms, 20, cap)
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"two-stage must never sort-merge its bounded sides:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"two-stage top-k must be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"df/stats must broadcast into the scoring stage:\n$p")
    assert(p.contains(s"/${snapM("dfs")}"),
      s"stage-2 df must be the sidecar read, not a postings recount:\n$p")
    assert(!p.contains("postings/v="),
      "the served plan must hold no live postings scan — candidates are " +
        s"checkpointed, df is the sidecar, stats are 1 row:\n$p")

    // DISPATCH contract (bm25Serve): the sidecar dfs make the
    // binding-cap choice automatic — two-stage when some query term's
    // df exceeds the cap, plain capped prefix (already exact, no
    // completion pass) otherwise
    assert(graft.queries.RetrievalQueries.capBinds(spark, path, terms, cap),
      "cap 60 must bind (df('the') = 830)")
    assert(!graft.queries.RetrievalQueries.capBinds(spark, path, terms, 1000L),
      "cap 1000 must not bind (max df = 830)")
    assert(rows(graft.queries.RetrievalQueries
      .bm25Serve(spark, path, terms, 20, cap)) === exact,
      "dispatcher at a binding cap must serve the two-stage exact answer")
    assert(rows(graft.queries.RetrievalQueries
      .bm25Serve(spark, path, terms, 20, 1000L)) === exact,
      "dispatcher at a generous cap must serve the plain capped exact answer")

    // BROADCAST GUARD: the candidate semi-join broadcasts only while
    // |terms|·cap stays under TwoStageBroadcastMaxIds; above it the
    // forced broadcast hint must be GONE (AQE may still choose broadcast
    // at runtime from the ACTUAL candidate size — the guard bounds the
    // forced worst case). Pinned on the optimized logical plan, where
    // the hint is visible pre-AQE.
    val maxIds = graft.queries.RetrievalQueries.TwoStageBroadcastMaxIds
    val under = graft.queries.RetrievalQueries
      .twoStageCompletionFrame(spark, path, terms, cap)
      .queryExecution.optimizedPlan.toString
    assert(under.contains("strategy=broadcast"),
      s"|terms|*cap = ${terms.size * cap} <= $maxIds must broadcast candidates:\n$under")
    val wideCap = maxIds / terms.size + 1
    val over = graft.queries.RetrievalQueries
      .twoStageCompletionFrame(spark, path, terms, wideCap)
      .queryExecution.optimizedPlan.toString
    assert(!over.contains("strategy=broadcast"),
      s"|terms|*cap = ${terms.size * wideCap} > $maxIds must NOT force a " +
        s"broadcast — shuffle semi-join fallback:\n$over")
    // the guarded serve still answers exactly (a generous cap regardless
    // of join strategy)
    assert(rows(graft.queries.RetrievalQueries
      .bm25FromIndexTwoStage(spark, path, terms, 20, wideCap)) === exact,
      "the no-broadcast regime must serve the same exact answer")

    // CERTIFIED adaptive serve (the max-score/WAND upper-bound rung):
    // exactness is PROVEN per query — the k-th candidate's exact score
    // must strictly beat Σ idf·(boundary impact beyond the prefix), else
    // the cap escalates. On this corpus the binding cap 60 certifies in
    // one round (zebra's run is covered → its bound is 0; the top-20
    // carry zebra's idf mass, far above "the"'s boundary bound).
    val (cert60, trace60) = graft.queries.RetrievalQueries
      .bm25ServeCertifiedTrace(spark, path, terms, 20, cap)
    assert(rows(cert60) === exact,
      "certified serve must return the exact top-k")
    assert(trace60 === Seq(cap),
      s"cap $cap must certify without escalation here, tried: $trace60")
    // a cap too small to separate the scores must ESCALATE — and still
    // land exact
    val (certTiny, traceTiny) = graft.queries.RetrievalQueries
      .bm25ServeCertifiedTrace(spark, path, terms, 20, 2L)
    assert(rows(certTiny) === exact,
      "certified serve must stay exact through escalation")
    assert(traceTiny.length > 1 && traceTiny.head === 2L,
      s"cap 2 cannot certify (candidates miss the true top-k) — must " +
        s"escalate, tried: $traceTiny")
    // at cap ≥ every query-term df the prefix IS the full read: the
    // plain capped serve returns, exact by construction, one round
    val (certFull, traceFull) = graft.queries.RetrievalQueries
      .bm25ServeCertifiedTrace(spark, path, terms, 20, 1000L)
    assert(rows(certFull) === exact && traceFull === Seq(1000L))
  }

  test("marker flip hammer: never absent, never torn, across 400 consecutive flips") {
    // The r15 full run caught the flip taking a delete-then-rename window
    // on LocalFileSystem (Hadoop's FileSystem.rename refuses an existing
    // dst) — a 1 ms poller saw committed()==false mid-rebuild, violating
    // the zero-downtime contract under BOTH serving artifacts. The flip
    // is now an ATOMIC_MOVE on local FS; this hammer spin-polls (no
    // sleep) from three reader threads across 400 consecutive flips of
    // the shared primitive (sub-ms each — the hammer outnumbers the r15
    // repro by orders of magnitude), alternating the two artifacts' payload
    // shapes, and asserts the marker is never absent and never torn.
    val dir = java.nio.file.Files.createTempDirectory("graft_fliphammer_").toString
    def payload(i: Int): Map[String, String] =
      if (i % 2 == 0) Map("v" -> i.toString, // scored-BM25 shape
        "postings" -> (0 to i % 5).map(g => s"postings/v=$g").mkString(","),
        "stats" -> s"stats/v=$i")
      else Map("v" -> i.toString, // ANN shape
        "nlist" -> "16", "seed" -> "42",
        "centroids" -> s"centroids/v=$i", "codes" -> s"codes/v=$i")
    graft.ext.ArtifactCommit.writeMarker(spark, dir, payload(0))
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 3).map(_ => new Thread(() => {
      while (!stop.get()) {
        if (!graft.ext.ArtifactCommit.committed(spark, dir))
          misses.incrementAndGet()
        try graft.ext.ArtifactCommit.readMarker(spark, dir) match {
          case None => misses.incrementAndGet()
          case Some(m) =>
            // internal consistency of ONE payload version: a tear or a
            // mixed read fails one of these
            val v = m.get("v").map(_.toInt)
            val ok = v.isDefined && (
              if (v.get % 2 == 0) m.get("stats").contains(s"stats/v=${v.get}") &&
                m.get("postings").exists(_.split(',').length == v.get % 5 + 1)
              else m.get("codes").contains(s"codes/v=${v.get}") &&
                m.contains("nlist"))
            if (!ok) torn.add(m.toString)
        } catch { case e: IllegalArgumentException => torn.add(e.getMessage) }
      }
    }))
    readers.foreach(_.start())
    try (1 to 400).foreach(i =>
      graft.ext.ArtifactCommit.writeMarker(spark, dir, payload(i)))
    finally { stop.set(true); readers.foreach(_.join()) }
    assert(misses.get() === 0,
      s"marker absent ${misses.get()} times across 400 atomic flips")
    assert(torn.isEmpty, s"torn/mixed marker payloads observed: $torn")
  }

  test("batch BM25 serve ≡ the single serves, from one pruned postings scan") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_batchidx_")
      .toString + "/index"
    graft.queries.RetrievalQueries.fullIndexWriteScored(docs, path, shards = 4)
    val queries = Seq("a" -> Seq("spark", "join", "window"),
      "b" -> Seq("sort", "merge"), "c" -> Seq("spark", "sort"))
    val batch = graft.queries.RetrievalQueries
      .bm25FromIndexBatch(spark, path, queries, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    queries.foreach { case (q, ts) =>
      val single = graft.queries.RetrievalQueries
        .bm25FromIndex(spark, path, ts, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(q) === single && single.nonEmpty,
        s"batch query $q must equal its single serve")
    }
    // ONE pruned postings read feeds every query: the union-term isin
    // reaches the parquet scan, and the batch plan scans the postings
    // artifact exactly once (the checkpoint; the per-query fan-out is a
    // broadcast (query_id, term) map, not a re-read)
    val union = queries.flatMap(_._2).distinct
    val prePlan = graft.queries.RetrievalQueries.readScoredPostings(spark, path)
      .where(col("term").isin(union: _*))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*term".r.findFirstIn(prePlan).isDefined,
      s"union-term isin must reach the postings scan:\n$prePlan")
    val df = graft.queries.RetrievalQueries
      .bm25FromIndexBatch(spark, path, queries, 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the postings PARQUET is read once, at checkpoint materialization:
    // the serve plan touches only the in-memory checkpoint (twice — the
    // df count and the scoring pass), never the artifact again
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("postings")),
      s"the batch serve must not re-read the postings artifact:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(finalPlan).size === 2,
      s"the pruned checkpoint feeds exactly df-count + scoring:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"df/stats/query-map attaches must broadcast:\n$plan")
    assert(plan.contains("partial_bottom_k"),
      s"the per-query cut must be the map-side heap:\n$plan")
  }

  test("legacy pre-versioned ANN marker fails with a clear diagnosis") {
    val path = java.nio.file.Files.createTempDirectory("graft_annlegacy_")
      .toString + "/index"
    new java.io.File(path).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_INDEX_SUCCESS"),
      "nlist=16\nseed=42\n".getBytes("UTF-8"))
    // committed() is marker-existence (the legacy artifact DID commit);
    // every read path must name the actual problem, not throw a bare
    // NoSuchElementException
    assert(graft.ext.AnnIndex.committed(spark, path))
    val e = intercept[IllegalStateException] {
      graft.ext.AnnIndex.readCentroids(spark, path)
    }
    assert(e.getMessage.contains("legacy"),
      s"legacy marker must be diagnosed by name: ${e.getMessage}")
  }
}
