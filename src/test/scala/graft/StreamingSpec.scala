package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extension operators: windowed downsample (watermark-bounded
  * state) and stateful first-seen series detection. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // FAIR so the serving-path fairness test is real whichever suite
    // creates the shared context; default-pool behavior stays FIFO
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  val T0 = 1700000000000L // bucket-aligned (minute boundary not required)

  private def labeled(rows: Seq[(String, Long, Double)]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Long, Double)]
    val df = stream.toDF().select(
      map(lit("__name__"), col("_1")).as("labels"),
      col("_2").as("timestamp_ms"), col("_3").as("value"))
    stream.addData(rows: _*)
    (stream, df)
  }

  test("streaming ingest into a rollup store: hinted reads served from the rollup") {
    // end-to-end composition: stream -> foreachBatch write (which also
    // maintains samples_rollup) -> hinted read answered WITHOUT scanning raw
    import graft.model._
    val root = java.nio.file.Files.createTempDirectory("graft_stream_rollup_").toString
    val store = new graft.storage.ParquetStore(spark, root, rollupStepMs = 1000L)
    val (stream, df) = labeled(Seq(
      ("m1", T0, 1.0), ("m1", T0 + 500, 3.0), ("m1", T0 + 2000, 5.0)))
    val q = graft.streaming.Ingest.start(df, store, Trigger.AvailableNow())
    q.awaitTermination(60_000)
    val hinted = store.readTimeSeries(Query(T0, T0 + 2999,
      Seq(Matcher("__name__", MatchType.Eq, "m1")),
      Some(ReadHints(stepMs = 1000L, func = "max_over_time"))))
    assert(hinted.head.samples === Seq(Sample(T0, 3.0), Sample(T0 + 2000, 5.0)))
    val plan = store.readSeries(Query(T0, T0 + 2999,
      Seq(Matcher("__name__", MatchType.Eq, "m1")),
      Some(ReadHints(1000L, "max")))).queryExecution.executedPlan.toString
    assert(plan.contains("samples_rollup"))
  }

  test("streaming rollup sink feeds hinted serving: raw ingest + continuous rollup on one root") {
    import graft.model._
    val root = java.nio.file.Files.createTempDirectory("graft_stream_rusink_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rusink_ckpt_").toString
    // raw path (samples + dictionary), NO write-side rollup — the stream sink owns it
    val rawStore = new graft.storage.ParquetStore(spark, root)
    val (_, df1) = labeled(Seq(("m1", T0, 1.0), ("m1", T0 + 500, 3.0), ("m1", T0 + 2000, 5.0)))
    graft.streaming.Ingest.start(df1, rawStore, Trigger.AvailableNow()).awaitTermination(60_000)
    // zero lateness + a sentinel past the asserted range so the watermark
    // closes (and append emits) the T0 and T0+2s buckets
    val (_, df2) = labeled(Seq(("m1", T0, 1.0), ("m1", T0 + 500, 3.0),
      ("m1", T0 + 2000, 5.0), ("m1", T0 + 5000, 0.0)))
    graft.streaming.Downsample.startRollupSink(df2, root, stepMs = 1000L, ckpt,
      Trigger.AvailableNow(), watermark = "0 milliseconds").awaitTermination(60_000)

    // serving store: answers the hint from the stream-built rollup
    val serving = new graft.storage.ParquetStore(spark, root, rollupStepMs = 1000L)
    val hinted = serving.readTimeSeries(Query(T0, T0 + 2999,
      Seq(Matcher("__name__", MatchType.Eq, "m1")),
      Some(ReadHints(stepMs = 1000L, func = "sum"))))
    assert(hinted.head.samples === Seq(Sample(T0, 4.0), Sample(T0 + 2000, 5.0)))

    // replay idempotency: wipe the checkpoint (the state-store-schema-upgrade
    // recovery move) and re-run the sink over the SAME source — the anti-join
    // must skip every bucket the first incarnation wrote, so mergeRollup
    // never sums a duplicate partial
    val before = spark.read.parquet(s"$root/samples_rollup").count()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val (_, df3) = labeled(Seq(("m1", T0, 1.0), ("m1", T0 + 500, 3.0),
      ("m1", T0 + 2000, 5.0), ("m1", T0 + 5000, 0.0)))
    graft.streaming.Downsample.startRollupSink(df3, root, stepMs = 1000L, ckpt,
      Trigger.AvailableNow(), watermark = "0 milliseconds").awaitTermination(60_000)
    val rollup = spark.read.parquet(s"$root/samples_rollup")
    assert(rollup.count() === before) // no duplicate (fingerprint, bucket) rows
    assert(rollup.groupBy("fingerprint", "bucket_ms").count()
      .where(col("count") > 1).isEmpty)
    val replayed = serving.readTimeSeries(Query(T0, T0 + 2999,
      Seq(Matcher("__name__", MatchType.Eq, "m1")),
      Some(ReadHints(stepMs = 1000L, func = "sum"))))
    assert(replayed.head.samples === Seq(Sample(T0, 4.0), Sample(T0 + 2000, 5.0)))
  }

  test("rollup one-producer contract: the second producer KIND fails fast") {
    import graft.model._
    // batch first: a write-side rollup store claims the marker on its
    // first rollup append ...
    val root = java.nio.file.Files.createTempDirectory("graft_rollup_duel_").toString
    val store = new graft.storage.ParquetStore(spark, root, rollupStepMs = 1000L)
    val (_, df) = labeled(Seq(("m1", T0, 1.0)))
    graft.streaming.Ingest.start(df, store, Trigger.AvailableNow()).awaitTermination(60_000)
    assert(new java.io.File(root, "_rollup_producer").exists())
    // ... so the streaming sink must refuse THIS root, loudly
    val ckpt = java.nio.file.Files.createTempDirectory("graft_duel_ckpt_").toString
    val (_, df2) = labeled(Seq(("m1", T0 + 1000, 2.0)))
    val ex = intercept[IllegalStateException] {
      graft.streaming.Downsample.startRollupSink(df2, root, stepMs = 1000L, ckpt,
        Trigger.AvailableNow(), watermark = "0 milliseconds")
    }
    assert(ex.getMessage.contains("double-count"))
    // same KIND re-claims freely: a second batch write must succeed
    def batch(ts: Long): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      Seq((Map("__name__" -> "m1"), ts, 3.0)).toDF("labels", "timestamp_ms", "value")
    }
    store.write(batch(T0 + 2000))
    // and the mirror direction: stream claims a fresh root, batch refuses
    val root2 = java.nio.file.Files.createTempDirectory("graft_rollup_duel2_").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_duel2_ckpt_").toString
    // raw ingest through a NO-rollup store (the documented good pattern:
    // the stream sink owns the rollup) — also populates the dictionary
    val rawStore = new graft.storage.ParquetStore(spark, root2)
    val (_, dfRaw) = labeled(Seq(("m1", T0, 1.0)))
    graft.streaming.Ingest.start(dfRaw, rawStore, Trigger.AvailableNow())
      .awaitTermination(60_000)
    val (_, df3) = labeled(Seq(("m1", T0, 1.0), ("m1", T0 + 5000, 0.0)))
    graft.streaming.Downsample.startRollupSink(df3, root2, stepMs = 1000L, ckpt2,
      Trigger.AvailableNow(), watermark = "0 milliseconds").awaitTermination(60_000)
    val batchStore = new graft.storage.ParquetStore(spark, root2, rollupStepMs = 1000L)
    val ex2 = intercept[IllegalStateException] {
      batchStore.write(batch(T0 + 9000))
    }
    assert(ex2.getMessage.contains("double-count"))
    // a serving-only store on the stream-owned root still reads fine
    val serving = new graft.storage.ParquetStore(spark, root2, rollupStepMs = 1000L)
    val hinted = serving.readTimeSeries(Query(T0, T0 + 999,
      Seq(Matcher("__name__", MatchType.Eq, "m1")),
      Some(ReadHints(stepMs = 1000L, func = "sum"))))
    assert(hinted.head.samples === Seq(Sample(T0, 1.0)))
  }

  test("windowed downsample: per-series minute buckets with last-by-time") {
    val (_, df) = labeled(Seq(
      ("m1", T0, 1.0), ("m1", T0 + 10_000, 5.0), ("m1", T0 + 70_000, 2.0),
      ("m2", T0 + 5_000, 7.0)))
    // zero lateness so the final watermark (max event time) closes the first
    // bucket; the T0+70s bucket stays open and must NOT be emitted (append
    // mode emits only watermark-closed windows)
    val q = graft.streaming.Downsample.aggregate(df, watermark = "0 seconds")
      .writeStream.format("memory").queryName("ds_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("ds_out").collect()
    assert(out.length === 2) // m1 + m2 first-minute buckets; open bucket withheld
    val m1fp = graft.core.Fingerprint.of(Seq(graft.model.Label("__name__", "m1")))
    val m1 = out.filter(_.getAs[Long]("fingerprint") == m1fp)
    assert(m1.length === 1)
    assert(m1.head.getAs[Long]("n") === 2)
    assert(m1.head.getAs[Double]("min_v") === 1.0 && m1.head.getAs[Double]("max_v") === 5.0)
    assert(m1.head.getAs[Double]("last_v") === 5.0) // value at max timestamp
    assert(m1.head.getAs[Double]("avg_v") === 3.0)
  }

  test("streaming doc dedup: each distinct content emitted once, min doc_id keeps") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    stream.addData((7L, "alpha"), (3L, "alpha"), (5L, "beta"))
    val q = graft.streaming.DocStream.firstSeenDocs(spark, df)
      .toDF("ch", "doc_id", "text")
      .writeStream.format("memory").queryName("docs_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // second batch: duplicate of batch-1 content + one new doc
      stream.addData((9L, "alpha"), (2L, "gamma"))
      q.processAllAvailable()
      val rows = spark.table("docs_out").collect()
        .map(r => (r.getAs[String]("text"), r.getAs[Long]("doc_id"))).sorted
      // alpha kept ONCE with the min doc_id of its first-sighting batch;
      // the batch-2 redelivery (id 9) suppressed by state
      assert(rows === Array(("alpha", 3L), ("beta", 5L), ("gamma", 2L)))
    } finally q.stop()
  }

  test("streaming curation: quality gate filters before dedup state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // 60 four-letter words: passes Gopher (n in bounds, mean len 4, all alpha)
    val good = Seq.fill(60)("word").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    // doc 1 passes; 2 is a dup of 1; 3 fails the gate (too short)
    stream.addData((1L, good), (2L, good), (3L, "too short"))
    val q = graft.streaming.DocStream.curatedDocs(spark, df)
      .toDF("ch", "doc_id", "text")
      .writeStream.format("memory").queryName("curated_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("curated_out").collect().map(_.getAs[Long]("doc_id"))
      assert(rows === Array(1L)) // gate rejected 3, dedup suppressed 2
    } finally q.stop()
  }

  test("streaming corpus stats accumulate across batches per stratum") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, String, String)]
    val df = stream.toDF().select(
      col("_1").as("source"), col("_2").as("lang"), col("_3").as("text"))
    stream.addData(("web", "en", "one two three"), ("web", "en", "four five"))
    val q = graft.streaming.DocStream.runningCorpusStats(df)
      .writeStream.format("memory").queryName("card_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      stream.addData(("web", "en", "six"), ("books", "de", "sieben acht"))
      q.processAllAvailable()
      val rows = spark.table("card_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(rows(("web", "en")) === ((3L, 6L))) // 3 docs, 5+1 tokens
      assert(rows(("books", "de")) === ((1L, 2L)))
    } finally q.stop()
  }

  test("streaming vocabulary card equals the batch sketch and merges across strata") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, String)]
    val df = stream.toDF().select(col("_1").as("source"), col("_2").as("text"))
    val docs = Seq(
      ("web", "alpha beta gamma delta epsilon zeta"),
      ("web", "beta gamma delta epsilon zeta eta"),
      ("books", "one two three four five six seven"),
      ("books", "two three four five six seven eight"))
    stream.addData(docs.take(2): _*)
    val q = graft.streaming.DocStream.vocabularyCard(df, k = 256)
      .writeStream.format("memory").queryName("vocab_card")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      stream.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val card = spark.table("vocab_card").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      // streaming ≡ batch: the card after both micro-batches is the batch
      // sketch over all rows (the aggregate's merge IS the fold)
      val batch = graft.streaming.DocStream
        .vocabularyCard(docs.toDF("source", "text"), k = 256)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      assert(card.keySet === Set("web", "books"))
      card.foreach { case (s, sk) => assert(sk.toSeq === batch(s).toSeq, s"stratum $s") }
      // below-k sketches are exact: estimates equal true distinct 4-gram counts
      def grams(texts: Seq[String]): Set[String] = texts.flatMap(t =>
        t.trim.toLowerCase.split("\\s+").toSeq.sliding(4).map(_.mkString(" "))).toSet
      assert(graft.ext.Kmv.distinctEstimate(card("web"), 256) ===
        grams(docs.filter(_._1 == "web").map(_._2)).size.toDouble)
      // cross-strata merge is the union's sketch — the card→corpus-card fold
      val union = graft.ext.Kmv.merge(card("web"), card("books"), 256)
      val all = graft.streaming.DocStream
        .vocabularyCard(docs.map { case (_, t) => ("all", t) }.toDF("source", "text"), k = 256)
        .collect().head.getSeq[Long](1).toArray
      assert(union.toSeq === all.toSeq)
    } finally q.stop()
  }

  test("streaming WARC ingestion: shards parsed as they land, each exactly once") {
    import graft.sources.Warc
    val docs = Warc.withUrls(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)

    val landing = java.nio.file.Files.createTempDirectory("graft_warc_land").toFile
    def deliver(batch: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      // export to a staging dir, then move shards into the landing dir
      // under batch-unique names — the crawler-drops-a-file shape
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_warc_stage_$tag").toFile
      Warc.write(batch, tmp.toString, shards = 2, gzip = true)
      tmp.listFiles().filter(_.getName.startsWith("warc-")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(landing, s"warc-$tag-${f.getName.stripPrefix("warc-")}").toPath)
      }
    }
    deliver(half1, "a")
    val q = Warc.readStream(spark, landing.toString)
      .writeStream.format("memory").queryName("warc_stream_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("warc_stream_out").collect().map(_.getLong(0)).toSet
      assert(after1 === half1.collect().map(_.getLong(0)).toSet)
      deliver(half2, "b")
      q.processAllAvailable()
      val after2 = spark.table("warc_stream_out").collect().map(r => (r.getLong(0), r.getString(2)))
      // union of both deliveries, no shard processed twice
      assert(after2.length === docs.count())
      val orig = docs.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      after2.foreach { case (id, text) => assert(orig(id) === text) }
    } finally q.stop()
  }

  test("streaming raw-crawl ingestion: response shards -> html->text as they land") {
    import graft.sources.Warc
    import graft.ext.HtmlText
    val pages = HtmlText.asGeneratedPages(spark, "/root/testdata/sf0.001").toDF()
      .limit(100)
    val half1 = pages.where(col("doc_id") % 2 === 0)
    val half2 = pages.where(col("doc_id") % 2 === 1)
    val landing = java.nio.file.Files.createTempDirectory("graft_resp_land").toFile
    def deliver(batch: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_resp_stage_$tag").toFile
      Warc.writeResponses(batch, tmp.toString, shards = 2, gzip = true)
      tmp.listFiles().filter(_.getName.startsWith("warc-")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(landing, s"warc-$tag-${f.getName.stripPrefix("warc-")}").toPath)
      }
    }
    deliver(half1, "a")
    // the LIVE front door: stream of raw crawl responses → extraction —
    // html→text runs inside the stream (map-only, so append-mode safe)
    val q = HtmlText.extractFrame(Warc.readResponsesStream(spark, landing.toString))
      .toDF()
      .writeStream.format("memory").queryName("resp_stream_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      val batchAll = HtmlText.extractFrame(pages).collect()
        .map(d => d.doc_id -> d.text).toMap
      val after1 = spark.table("resp_stream_out").collect()
        .map(r => r.getAs[Long]("doc_id")).toSet
      assert(after1 === half1.collect().map(_.getLong(0)).toSet)
      deliver(half2, "b")
      q.processAllAvailable()
      val after2 = spark.table("resp_stream_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      assert(after2.length === pages.count())
      // stream-side extraction ≡ batch extraction, doc for doc
      after2.foreach { case (id, text) =>
        assert(batchAll(id) === text, s"doc $id")
        assert(text.nonEmpty)
      }
    } finally q.stop()
  }

  test("streaming JSONL ingestion: shards parsed as they land, each exactly once") {
    import graft.sources.Jsonl
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)
    val landing = java.nio.file.Files.createTempDirectory("graft_jsonl_land").toFile
    def deliver(batch: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_jsonl_stage_$tag").toFile
      Jsonl.write(batch, tmp.toString, shards = 2)
      tmp.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(landing, s"part-$tag-${f.getName.stripPrefix("part-")}").toPath)
      }
    }
    deliver(half1, "a")
    val q = Jsonl.readStream(spark, landing.toString, docs.schema)
      .writeStream.format("memory").queryName("jsonl_stream_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("jsonl_stream_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(after1 === half1.collect().map(_.getLong(0)).toSet)
      deliver(half2, "b")
      q.processAllAvailable()
      val after2 = spark.table("jsonl_stream_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      assert(after2.length === docs.count())
      val orig = docs.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      after2.foreach { case (id, text) => assert(orig(id) === text) }
    } finally q.stop()
  }

  test("streaming classifier gate scores exactly as the batch scorer (frozen weights)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.ext.Classifier
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val labels = docs.select(col("doc_id"), (col("lang") === "en").cast("double").as("y"))
    val (w, _) = Classifier.train(Classifier.features(docs), labels, iters = 4)

    val batch = Classifier.score(docs, w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .select(col("doc_id"), Classifier.scoreColumn(col("text"), w).as("score"))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    stream.addData(b1: _*)
    val q = df.writeStream.format("memory").queryName("clf_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.keySet === batch.keySet)
      // same frozen weights, same arithmetic — only float fold order
      // differs (HOF document-order vs per-bucket agg), masked by round(4)
      // up to one ulp at the rounding edge
      streamed.foreach { case (id, s) =>
        assert(math.abs(s - batch(id)) <= 1e-4, s"doc $id: $s vs ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming heavy-hitters card converges on the batch ev5 answer") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Long]
    val df = stream.toDF().select(col("value").as("user_id"))
    // skewed fixture: user u appears u+1 times, split across two batches
    val all = (0L until 20L).flatMap(u => Seq.fill(u.toInt + 1)(u))
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1: _*)
    val q = graft.streaming.EventStream.heavyHitters(df, k = 5)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
      val row = spark.table("hh_out").head()
      val items = row.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0).toLong -> r.getLong(1))
      // 20 distinct users ≪ capacity → the MG state is exact: the card
      // equals batch ev5 over the full prefix
      assert(items === Seq(19L -> 20L, 18L -> 19L, 17L -> 18L, 16L -> 17L, 15L -> 16L))
      assert(math.abs(row.getDouble(1) -
        all.size.toDouble / (graft.functions.MGOps.DefaultCapacity + 1)) < 1e-12)
    } finally q.stop()
  }

  test("streaming line-count index: cross-batch dedup parity + replay idempotence") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // multi-line docs with boilerplate that only crosses the >2 threshold
    // when batches COMBINE (nav: 2 in batch A + 1 in batch B)
    val batchA = Seq(
      (1L, "nav home\nalpha beta"), (2L, "nav home\ngamma delta"),
      (3L, "promo line\nepsilon zeta"))
    val batchB = Seq(
      (10L, "nav home\nfresh ten"), (11L, "promo line\nfresh eleven"),
      (12L, "promo line\nfresh twelve"))
    val root = java.nio.file.Files.createTempDirectory("graft_linecnt_").toString
    val basePath = s"$root/line_base"
    // two micro-batches through ONE query run (a fresh MemoryStream query
    // does not resume offsets from a prior run's checkpoint — it would
    // replay everything as its own batch 0)
    val stream = MemoryStream[(Long, String)]
    val docsDf = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.DocStream.startLineCountSink(
      docsDf, basePath, s"$root/ckpt",
      Trigger.ProcessingTime("100 milliseconds"))
    stream.addData(batchA: _*)
    q.processAllAvailable()
    stream.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()

    // index = batch-computed counts over the union
    val all = (batchA ++ batchB).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), "\n").as("lines"))
    val expected = graft.queries.DedupQueries.lineCountsOf(all)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def index = graft.streaming.DocStream.lineIndex(spark, basePath)
    assert(index.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === expected)

    // a late batch-B doc cleaned against the index: 'nav home' (3 > 2)
    // removed, 'promo line' (3 > 2) removed, fresh lines kept
    val late = Seq((20L, "nav home\npromo line\nbrand new line")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), "\n").as("lines"))
    val cleaned = graft.queries.DedupQueries.lineDedupIncremental(index, late)
      .collect().head
    assert(cleaned.getAs[Long]("n_dup_lines") == 2L)
    assert(cleaned.getAs[String]("deduped") == "brand new line")

    // replay idempotence: re-running batch B's delta write under ITS OWN
    // batch id must not change the index — the partition overwrites
    // itself (the id is read back rather than assumed: AvailableNow can
    // commit a trailing no-data batch, shifting the numbering)
    val bId = spark.read.parquet(basePath)
      .agg(max(col("batch_id").cast("long"))).collect().head.getLong(0)
    graft.streaming.DocStream.lineCountBatch(
      batchB.toDF("doc_id", "text"), bId, basePath)
    assert(index.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === expected)

    // compaction: per-batch delta dirs fold into ONE sorted bounded file
    // set under the reserved batch_id=-1 partition; the index answers
    // identically and the layout is what a probe wants
    graft.tools.Compact.lineCountBase(spark, basePath, files = 2)
    assert(index.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === expected,
      "post-compaction index parity")
    val partDirs = new java.io.File(basePath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(partDirs === Array("batch_id=-1"), partDirs.mkString(","))
    // a post-restart delta (next batch id) lands beside the compacted
    // partition and the union is still exact
    val batchC = Seq((30L, "nav home\npost compact line"))
    graft.streaming.DocStream.lineCountBatch(
      batchC.toDF("doc_id", "text"), bId + 1, basePath)
    val allC = (batchA ++ batchB ++ batchC).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), "\n").as("lines"))
    val expectedC = graft.queries.DedupQueries.lineCountsOf(allC)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(index.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === expectedC,
      "post-compaction append parity")
  }

  test("streaming perceptual near-dup gate: one keeper per planted family, replay-idempotent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MediaStream
    val families = 50
    // planted-image corpus: ids 0..499, family = id % 50, family primaries
    // are ids 0..49; every copy is within Hamming<=3 of its primary, and
    // within-batch components connect THROUGH the primary — so the
    // expected accepted set is exactly the primaries, deterministically
    def media(ids: Range) = ids.map(id =>
      (id.toLong, graft.ext.Multimodal.syntheticNearDupPng(id.toLong, families)))
    val root = java.nio.file.Files.createTempDirectory("graft_mediadup_").toString
    val basePath = s"$root/base"
    val stream = MemoryStream[(Long, Array[Byte])]
    def sink() = MediaStream.startPerceptualSink(
      MediaStream.imageHashes(
        stream.toDF().select(col("_1").as("doc_id"), col("_2").as("media"))),
      basePath, s"$root/ckpt", Trigger.AvailableNow())
    stream.addData(media(0 until 250): _*)
    val q = sink()
    q.processAllAvailable(); q.stop()
    val afterA = MediaStream.baseHashes(spark, basePath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterA === (0L until 50L).toSet, "batch 1 accepts exactly the primaries")
    // batch 2: every member matches an already-represented family -> no new rows
    stream.addData(media(250 until 500): _*)
    val q2 = sink()
    q2.processAllAvailable(); q2.stop()
    assert(MediaStream.baseHashes(spark, basePath).select("doc_id")
      .collect().map(_.getLong(0)).toSet === (0L until 50L).toSet)
    // checkpoint-wipe replay of batch 2: self/base suppression keeps the
    // base unchanged (the rollup-sink upgrade path, no anti-join needed)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/ckpt"))
    stream.addData(media(250 until 500): _*)
    val q3 = sink()
    q3.processAllAvailable(); q3.stop()
    val fin = MediaStream.baseHashes(spark, basePath)
    assert(fin.count() === 50)
    assert(fin.select("doc_id").collect().map(_.getLong(0)).toSet === (0L until 50L).toSet)
    // base compaction (the text sink's Compact.nearDupBase is
    // schema-agnostic and layout-preserving on the banded layout)
    // re-lays the per-batch appends without changing the answer: same
    // keepers, and a further delivery is still fully suppressed
    graft.tools.Compact.nearDupBase(spark, basePath, files = 2)
    assert(MediaStream.baseHashes(spark, basePath).select("doc_id")
      .collect().map(_.getLong(0)).toSet === (0L until 50L).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/ckpt"))
    stream.addData(media(0 until 100): _*)
    val q4 = sink()
    q4.processAllAvailable(); q4.stop()
    assert(MediaStream.baseHashes(spark, basePath).count() === 50)
    // the same gate serves AUDIO hashes unchanged (modality-agnostic):
    // full corpus vs empty base elects the primaries; copies vs the
    // primaries as base are all suppressed
    val audio = (0 until 500).map(id =>
      (id.toLong, graft.ext.Multimodal.audioHash(
        graft.ext.Multimodal.syntheticNearDupWav(id.toLong, families)).get))
      .toDF("doc_id", "hash")
    val primaries = audio.where(col("doc_id") < 50)
    val copies = audio.where(col("doc_id") >= 50)
    assert(MediaStream.acceptPerceptual(audio, audio.limit(0))
      .select("doc_id").collect().map(_.getLong(0)).toSet === (0L until 50L).toSet)
    assert(MediaStream.acceptPerceptual(copies, primaries).isEmpty)
  }

  test("streaming near-dup curation = batch incremental dedup on the same split") {
    // Two micro-batches (odd docs, then even docs) of the fixture corpus
    // through the near-dup sink; expected accepted set derived
    // INDEPENDENTLY from the batch machinery: the full corpus-wide
    // verified LSH pair set (d2) filtered per batch + keeper election +
    // base-family suppression — the orchestration under test (per-batch
    // signatures, persisted base, broadcast band probe) shares none of it.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (odd, even) = docs.partition(_._1 % 2 == 1)

    val root = java.nio.file.Files.createTempDirectory("graft_neardup_").toString
    val basePath = s"$root/neardup_base"
    val stream = MemoryStream[(Long, String)]
    // data goes in before each start: an AvailableNow query fixes its end
    // offset when it starts, so data added after may land in the next
    // query's batch instead
    stream.addData(odd: _*)
    val q = graft.streaming.DocStream.startNearDupSink(
      stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      basePath, s"$root/ckpt", Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    stream.addData(even: _*)
    val q2 = graft.streaming.DocStream.startNearDupSink(
      stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      basePath, s"$root/ckpt", Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()
    val got = graft.streaming.DocStream.nearDupBaseSigs(spark, basePath).select("doc_id")
      .collect().map(_.getLong(0)).toSet

    // independent expectation from the batch pair set
    val pairs = graft.queries.DedupQueries.minhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def components(ids: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      // union-find in plain Scala
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ids.map(i => i -> find(i)).toMap
    }
    val oddIds = odd.map(_._1).toSet
    val compA = components(oddIds, pairs.filter(p => oddIds(p._1) && oddIds(p._2)))
    val acceptedA = compA.collect { case (d, k) if d == k => d }.toSet
    val evenIds = even.map(_._1).toSet
    val compB = components(evenIds, pairs.filter(p => evenIds(p._1) && evenIds(p._2)))
    val baseMatchedB = pairs.collect {
      case (a, b) if evenIds(a) && acceptedA(b) => a
      case (a, b) if evenIds(b) && acceptedA(a) => b
    }.toSet
    val killed = baseMatchedB.map(compB)
    val acceptedB = compB.collect { case (d, k) if d == k && !killed(k) => d }.toSet
    assert(got === (acceptedA ++ acceptedB))
    assert(acceptedA.size < oddIds.size || acceptedB.size < evenIds.size,
      "fixture should suppress at least one near-duplicate")
    // replay idempotence: re-feeding an accepted doc self-matches the base
    val q3 = graft.streaming.DocStream.startNearDupSink(
      stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      basePath, s"$root/ckpt2", Trigger.AvailableNow())
    stream.addData(odd.take(3): _*)
    q3.processAllAvailable()
    q3.stop()
    def baseSigs() = graft.streaming.DocStream.nearDupBaseSigs(spark, basePath)
    assert(baseSigs().count() === got.size.toLong,
      "replayed accepted docs must not land a second base row")

    // the PRUNED path probe (partition-isin band index + candidate-bucket
    // sh fetch) must match the frame-form probe exactly: same verified
    // base-match set for the same probe docs
    // def, not val: the frame must re-resolve its file listing after the
    // compaction swap below replaces the files it was planned over
    def probeDocs() = baseSigs().where(col("doc_id") < 20)
    def frameMatched() = graft.queries.DedupQueries.probePairsAgainst(
        probeDocs(), baseSigs())
      .select("new_id").collect().map(_.getLong(0)).toSet
    def prunedMatched() = graft.streaming.DocStream.probeNearDupBase(
        spark, probeDocs(), basePath)
      .collect().map(_.getLong(0)).toSet
    val probeBefore = frameMatched()
    // PRE-compaction the base is all deltas: the two-tier probe must
    // already answer identically (its compacted tier is empty)
    assert(prunedMatched() === probeBefore,
      "two-tier probe must equal the frame probe on a delta-only base")
    assert(probeBefore.nonEmpty, "probe docs are in the base: self-matches exist")

    // COMPACTION folds the deltas into the sorted hive-partitioned tier
    // (sigs/db= + derived bands/kb=): same rows, deltas gone, one file
    // per partition dir, probe identical — and now partition-PRUNED
    val rowsBefore = baseSigs().select("doc_id").collect().map(_.getLong(0)).toSet
    graft.tools.Compact.nearDupBase(spark, basePath, files = 2)
    assert(!new java.io.File(s"$basePath/delta").exists(),
      "compaction must fold and delete the delta tier")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(basePath))
    val perDir = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent)
    } finally walk.close()
    assert(perDir.nonEmpty && perDir.values.forall(_.size == 1),
      "compacted layout must hold exactly one file per partition dir")
    assert(baseSigs().select("doc_id").collect().map(_.getLong(0)).toSet === rowsBefore)
    assert(frameMatched() === probeBefore, "probe must answer identically post-compaction")
    assert(prunedMatched() === probeBefore,
      "pruned probe must answer identically post-compaction")
    // the pruned probe's band-index scan carries a partition filter on kb
    val probePlan = graft.streaming.DocStream
      .compactedCandidates(spark, probeDocs(), basePath)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*kb".r.findFirstIn(probePlan).isDefined,
      s"probe plan must statically prune kb partitions:\n${probePlan.take(4000)}")

    // post-compaction the sink keeps accreting: a further replayed
    // delivery self-matches in the COMPACTED tier and lands nothing
    val q4 = graft.streaming.DocStream.startNearDupSink(
      stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      basePath, s"$root/ckpt3", Trigger.AvailableNow())
    stream.addData(odd.take(3): _*)
    q4.processAllAvailable()
    q4.stop()
    assert(baseSigs().count() === got.size.toLong,
      "post-compaction replay must not land a second base row")
  }

  test("stateful new-series detection emits each fingerprint once") {
    val (stream, df) = labeled(Seq(
      ("m1", T0, 1.0), ("m1", T0 + 1, 2.0), ("m2", T0, 3.0)))
    val q = graft.streaming.Downsample.newSeries(spark, df)
      .toDF("fingerprint", "labels")
      .writeStream.format("memory").queryName("ns_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // second batch: one duplicate series + one new one
      stream.addData(("m1", T0 + 2, 9.0), ("m3", T0, 4.0))
      q.processAllAvailable()
      val rows = spark.table("ns_out").collect()
      assert(rows.length === 3) // m1, m2, m3 — m1 NOT re-emitted
      val names = rows.map(_.getAs[String]("labels")).sorted
      assert(names === Array(
        """{"__name__":"m1"}""", """{"__name__":"m2"}""", """{"__name__":"m3"}"""))
    } finally q.stop()
  }

  test("decontam quarantine round-trip: released re-enters, dropped = batch d7") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.ext.TextAnalysis.{shingles, words}
    val sf = "/root/testdata/sf0.001"
    val benchGrams = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 100 < 5)
      .select(explode(shingles(words(col("text")), 4)).as("g")).distinct()
      .persist()
    val bloom = benchGrams
      .agg(graft.functions.bloom_agg(xxhash64(col("g")),
        expectedItems = 1L << 20, fpp = 0.01).as("bf"))
      .head.getAs[Array[Byte]](0)
    val contaminated = graft.SparkEntry.queries("d7_decontamination")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 100 >= 5)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_decontam_rt_")
    val (cleanDir, droppedDir, ckpt) =
      (s"$tmp/clean", s"$tmp/dropped", s"$tmp/ckpt")
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.DocStream.startDecontamSink(df, bloom, benchGrams,
      cleanDir, droppedDir, ckpt, Trigger.ProcessingTime("1 second"))
    try {
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      stream.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val clean = spark.read.parquet(cleanDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val dropped = spark.read.parquet(droppedDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // the three-way reconciliation the operator's contract promises
      assert(dropped === contaminated, "dropped = exactly batch d7's set")
      assert(clean === corpus.map(_._1).toSet -- contaminated,
        "released Bloom false-positives re-entered; nothing else lost")
      assert((clean & dropped).isEmpty)
      assert(clean.size + dropped.size === corpus.length, "counts reconcile")
    } finally { q.stop(); benchGrams.unpersist(blocking = false) }
  }

  test("streaming decontam gate: no false negatives vs batch d7 on the same bench") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.ext.TextAnalysis.{shingles, words}
    val sf = "/root/testdata/sf0.001"
    // the gate queries' benchmark split (doc_id % 100 < 5) and its Bloom,
    // built with the same kernels the batch operators use
    val ng = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(shingles(words(col("text")), 4)).as("g"))
    val bloom = ng.where(col("doc_id") % 100 < 5).select("g").distinct()
      .agg(graft.functions.bloom_agg(xxhash64(col("g")),
        expectedItems = 1L << 20, fpp = 0.01).as("bf"))
      .head.getAs[Array[Byte]](0)
    // batch truth: candidate docs sharing >=1 four-gram with the benchmark
    val contaminated = graft.SparkEntry.queries("d7_decontamination")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 100 >= 5)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.DocStream.decontamGate(df, bloom)
      .select("doc_id", "maybe_contaminated")
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      stream.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val flagged = spark.table("decontam_out").collect()
        .filter(_.getBoolean(1)).map(_.getLong(0)).toSet
      assert(contaminated.subsetOf(flagged), // the load-bearing contract
        s"false negatives: ${(contaminated -- flagged).take(5)}")
      // fpp sanity: the quarantine is a sliver, not the stream
      val clean = corpus.length - contaminated.size
      val falsePos = (flagged -- contaminated).size
      assert(falsePos <= math.max(5, clean / 20),
        s"$falsePos false positives of $clean clean docs")
    } finally q.stop()
  }

  test("DayDeltas kernels: folded deltas = brute-force card (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // one user's day stream: arbitrary day values, duplicates, arbitrary
    // batch boundaries, arbitrary ORDER (late days) — the folded delta
    // sums must equal the brute-force single-user card over the union
    val gen = for {
      days <- Gen.listOf(Gen.choose(0, 40))
      cuts <- Gen.choose(1, 5)
    } yield (days, cuts)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(gen) { case (days, cuts) =>
        val batches = days.zipWithIndex
          .groupBy(_._2 % cuts).toSeq.sortBy(_._1).map(_._2.map(_._1))
        // activeUsers fold
        var known = Set.empty[Int]
        val sums = scala.collection.mutable.Map.empty[Int, (Int, Int)]
        batches.foreach { b =>
          val (k2, out) = graft.streaming.EventStream.DayDeltas.activeUsers(known, b)
          known = k2
          out.foreach { case (wd, (da, wa)) =>
            val (pd, pw) = sums.getOrElse(wd, (0, 0)); sums(wd) = (pd + da, pw + wa) }
        }
        val active = days.toSet
        val wds = active.flatMap(d => d to d + 6)
        val dauOk = wds.forall(wd =>
          sums.getOrElse(wd, (0, 0))._1 == (if (active(wd)) 1 else 0))
        val wauOk = wds.forall(wd =>
          sums.getOrElse(wd, (0, 0))._2 ==
            (if ((wd - 6 to wd).exists(active)) 1 else 0))
        // retention fold: net deltas == the final (cohort, offset) pair set
        var ds = Array.empty[Int]
        val net = scala.collection.mutable.Map.empty[(Int, Int), Int]
        batches.foreach { b =>
          val (d2, deltas) = graft.streaming.EventStream.DayDeltas.retention(ds, b)
          ds = d2
          deltas.foreach { case (c, o, x) =>
            net((c, o)) = net.getOrElse((c, o), 0) + x }
        }
        val want =
          if (active.isEmpty) Set.empty[(Int, Int)]
          else { val d0 = active.min; active.map(d => (d0, d - d0)) }
        val retOk = net.filter(_._2 != 0).keySet == want &&
          net.values.forall(v => v == 0 || v == 1)
        dauOk && wauOk && retOk
      })
    assert(res.passed, res.status.toString)
  }

  test("stateful operators run on the RocksDB state store (the 100 TB provider)") {
    // the scale story for every keyed-state operator here says "RocksDB
    // state store past memory" — run one exact-dedup stream and one
    // delta-state card on the actual provider so the claim is executable,
    // not aspirational
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, String)]
      val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = graft.streaming.DocStream.firstSeenDocs(spark, df)
        .toDF("ch", "doc_id", "text")
        .writeStream.format("memory").queryName("rocks_docs")
        .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
      try {
        stream.addData((7L, "alpha"), (3L, "alpha"), (5L, "beta"))
        q.processAllAvailable()
        stream.addData((9L, "alpha"), (2L, "gamma"))
        q.processAllAvailable()
        val rows = spark.table("rocks_docs").collect()
          .map(r => (r.getAs[String]("text"), r.getAs[Long]("doc_id"))).sorted
        assert(rows === Array(("alpha", 3L), ("beta", 5L), ("gamma", 2L)))
      } finally q.stop()

      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val ev = MemoryStream[(Long, java.sql.Timestamp)]
      val dfe = ev.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
      val q2 = graft.streaming.EventStream.activeUsers(spark, dfe)
        .writeStream.format("memory").queryName("rocks_dau")
        .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
      try {
        ev.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")))
        q2.processAllAvailable()
        ev.addData((1L, ts("2024-01-03 09:00:00")))
        q2.processAllAvailable()
        val got = spark.table("rocks_dau").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val want = graft.queries.EventQueries.activeUsersOf(Seq(
          (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
          (1L, ts("2024-01-03 09:00:00"))).toDF("user_id", "ts"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === want)
      } finally q2.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming DAU/WAU card = batch ev4 at every prefix (replay + late days)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 09:00:00")), (3L, ts("2024-01-05 09:00:00")))
    val batch2 = Seq(
      (1L, ts("2024-01-03 10:00:00")), // replay of an already-known day
      (2L, ts("2024-01-09 08:00:00")), // jump past a 7-day window
      (3L, ts("2024-01-02 07:00:00")), // out-of-order EARLIER day
      (4L, ts("2024-01-09 12:00:00")))
    def batchCard(rows: Seq[(Long, java.sql.Timestamp)]) =
      graft.queries.EventQueries.activeUsersOf(rows.toDF("user_id", "ts"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val df = stream.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q = graft.streaming.EventStream.activeUsers(spark, df)
      .writeStream.format("memory").queryName("dau_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      stream.addData(batch1: _*)
      q.processAllAvailable()
      def card = spark.table("dau_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(card === batchCard(batch1), "prefix parity after batch 1")
      stream.addData(batch2: _*)
      q.processAllAvailable()
      assert(card === batchCard(batch1 ++ batch2), "parity after late/replay batch")
    } finally q.stop()
  }

  test("streaming retention card = batch ev3, incl. cohort re-bucket on late event") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-04 09:00:00")), (3L, ts("2024-01-05 09:00:00")))
    val batch2 = Seq(
      (1L, ts("2024-01-04 10:30:00")), // replay day
      (3L, ts("2024-01-02 07:00:00")), // EARLIER than user 3's known first day:
      (2L, ts("2024-01-06 07:00:00")), //   cohort must move 01-05 → 01-02
      (4L, ts("2024-01-06 12:00:00")))
    def batchCard(rows: Seq[(Long, java.sql.Timestamp)]) =
      graft.queries.EventQueries.retentionOf(rows.toDF("user_id", "ts"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val df = stream.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q = graft.streaming.EventStream.retention(spark, df)
      .writeStream.format("memory").queryName("ret_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      stream.addData(batch1: _*)
      q.processAllAvailable()
      // zero rows are the update-mode tombstones — parity vs batch (which
      // never has zero-count pairs) compares the positive rows only
      def all = spark.table("ret_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      def card = all.filter(_._3 > 0)
      assert(card === batchCard(batch1), "prefix parity after batch 1")
      // user 3 currently cohorted at 2024-01-05
      assert(card.exists { case (c, o, _) => c == "2024-01-05" && o == 0L })
      stream.addData(batch2: _*)
      q.processAllAvailable()
      val fin = card
      assert(fin === batchCard(batch1 ++ batch2), "parity after re-bucket batch")
      // the old cohort row was RETRACTED, not left to drift...
      assert(!fin.exists { case (c, _, _) => c == "2024-01-05" })
      // ...and the retraction is VISIBLE as an explicit n_active = 0
      // tombstone, so an update-mode upsert sink can delete its stale row
      assert(all.contains(("2024-01-05", 0L, 0L)),
        s"expected zero-tombstone for the re-bucketed cohort, got $all")
    } finally q.stop()
  }

  test("streaming drift card + read-time PSI fold = batch rp3 on the same split") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val expected = graft.queries.CurationQueries.driftOf(spark, docs, false)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val base = docs.where(col("doc_id") % 10 < 8)
    val fresh = docs.where(col("doc_id") % 10 >= 8)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // base cuts computed batch-side (what a deployment snapshots), then
    // the NEW side arrives as a stream in two micro-batches
    val cuts = graft.queries.CurationQueries.decileCuts(
      base.select(col("lang"),
        size(graft.ext.TextAnalysis.words(col("text"))).as("t")),
      sketchQuantiles = false)
    val stream = MemoryStream[(Long, String, String)]
    val df = stream.toDF().select(
      col("_1").as("doc_id"), col("_2").as("lang"), col("_3").as("text"))
    val q = graft.streaming.DocStream.driftCard(df, cuts)
      .writeStream.format("memory").queryName("drift_card")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      val (b1, b2) = fresh.splitAt(fresh.length / 2)
      stream.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // read-time fold: base bucket counts (same bucketing code on the
      // batch frame) + the live card, through the SAME psi code as rp3
      val baseCnt = graft.streaming.DocStream.driftCard(base, cuts)
        .withColumn("is_new", lit(false))
      val newCnt = spark.table("drift_card").withColumn("is_new", lit(true))
      val got = graft.queries.CurationQueries.psiFromBucketCounts(
        spark, baseCnt.unionByName(newCnt))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("url gate is streaming-safe: per-row projection + stream-static broadcast probe") {
    // url1 is stateless (codegen projection + broadcast blocklist join),
    // so the SAME function runs unchanged on a stream — the front gate a
    // crawl landing dir flows through before the stateful dedup ladder
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "source")
    val expected = graft.queries.CurationQueries.urlGateOf(docs)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val stream = MemoryStream[(Long, String, String)]
    val df = stream.toDF().select(
      col("_1").as("doc_id"), col("_2").as("lang"), col("_3").as("source"))
    val q = graft.queries.CurationQueries.urlGateOf(df)
      .writeStream.format("memory").queryName("url_gate_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      stream.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("url_gate_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming embedding-drift card converges on batch rp4 for the same rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dim = 64
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // base centroids snapshot batch-side (what a deployment broadcasts)
    val base = graft.queries.CurationQueries.labelCentroids(
      emb.where(col("vec_id") % 10 < 8), dim)
    // expectation: batch rp4 over the identical base/new split
    val expected = graft.SparkEntry.queries("rp4_embedding_drift")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val fresh = emb.where(col("vec_id") % 10 >= 8)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Int, Seq[Float])]
    val df = stream.toDF().select(
      col("_1").as("label"), col("_2").as("embedding"))
    val q = graft.streaming.DocStream.embeddingDriftCard(df, base, dim)
      .writeStream.format("memory").queryName("emb_drift")
      .outputMode("complete").start()
    try {
      val (b1, b2) = fresh.splitAt(fresh.length / 2)
      stream.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("emb_drift").collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(got.keySet === expected.keySet)
      got.foreach { case (label, (n, cos, l2)) =>
        val (en, ecos, el2) = expected(label)
        assert(n === en, s"label $label n_new")
        // rp4 rounds to 6 dp; the card sums in a different order — compare
        // at the rounding's own resolution
        assert(math.abs(cos - ecos) < 2e-6, s"label $label cos $cos vs $ecos")
        assert(math.abs(l2 - el2) < 2e-6, s"label $label l2 $l2 vs $el2")
      }
      // state contract: the card is labels×1 rows, schema-bounded
      assert(got.size <= 10)
      // a label the BASE never saw must still surface (null cosine is
      // the novel-slice marker), not vanish in the join
      stream.addData((99, Seq.fill(dim)(1.0f)))
      q.processAllAvailable()
      val novel = spark.table("emb_drift").collect().find(_.getInt(0) == 99)
      assert(novel.isDefined, "novel label must appear on the card")
      assert(novel.get.getLong(1) === 1L)
      assert(novel.get.isNullAt(2), "novel label reports null cosine")
    } finally q.stop()
  }

  test("streaming funnel: cross-batch state fold = independent whole-history fold") {
    // real sf0.001 events through three TIME-SPLIT micro-batches (the
    // ordering contract the operator documents); expectation = a plain
    // Scala greedy fold over each user's full time-sorted history —
    // independent of both the streaming and the batch (ev2) code paths
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val steps = graft.queries.EventQueries.FunnelSteps
    // carry Spark's own unix_micros so the test's ordering and fold use
    // EXACTLY the operator's clock (ms-truncated getTime could order
    // same-millisecond events differently)
    val rows = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("user_id") < 64)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
      .sortBy(e => (e._5, e._3, e._4))
      // earliest slice only: the full history funnels every user to
      // completion (stage spread = 1), which would let any
      // constant-stage implementation pass the parity check; 150 events
      // leave this fixture's 15 users spread across all four stages
      .take(150)

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val df = stream.toDF()
      .select(col("_1").as("user_id"), col("_2").as("ts"),
        col("_3").as("event_id"), col("_4").as("event_type"))
    val q = graft.streaming.EventStream.funnel(spark, df)
      .toDF("user_id", "stage")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { batch =>
        stream.addData(batch.toSeq.map(e => (e._1, e._2, e._3, e._4)): _*)
        q.processAllAvailable()
      }
      val got = spark.table("funnel_out")
        .groupBy("user_id").agg(max(col("stage")).as("stage"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap

      val expected = rows.groupBy(_._1).map { case (uid, es) =>
        var stage = 0; var lastT = Long.MinValue
        es.sortBy(e => (e._5, e._3, e._4)).foreach { case (_, _, _, et, t) =>
          if (stage < steps.size && et == steps(stage) && (stage == 0 || t > lastT)) {
            stage += 1; lastT = t
          }
        }
        uid -> stage
      }
      assert(got === expected)
      assert(got.values.exists(_ == steps.size),
        "fixture should contain at least one completed funnel")
      assert(got.values.toSet.size > 1, "fixture should spread across stages")
    } finally q.stop()
  }

  test("streaming sessionization = batch gap-split sessions on the real corpus") {
    // real sf0.001 events through the native-session_window stream; the
    // expectation is computed INDEPENDENTLY (plain Scala gap-split over
    // the same rows) — shares nothing with either implementation. A
    // far-future sentinel advances the final watermark past every real
    // session so append mode emits them all.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gapMs = graft.queries.EventQueries.SessionGapMs
    val rows = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("user_id") < 8)
      .select(col("user_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val maxTs = rows.map(_._2.getTime).max
    val sentinel = (-1L, new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000), 0.0)

    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = stream.toDF()
      .select(col("_1").as("user_id"), col("_2").as("ts"), col("_3").as("value"))
    stream.addData(rows.toSeq :+ sentinel: _*)
    val q = graft.streaming.EventStream.sessionize(df)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out").where(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .toSet

    val expected = rows.groupBy(_._1).flatMap { case (uid, es) =>
      val sorted = es.sortBy(_._2.getTime)
      val sessions = sorted.foldLeft(List.empty[List[(Long, Double)]]) {
        case (acc, (_, ts, v)) =>
          val t = ts.getTime
          acc match {
            // session_window's half-open rule: diff >= gap starts anew
            case cur :: rest if t - cur.head._1 < gapMs =>
              ((t, v) :: cur) :: rest
            case _ => List((t, v)) :: acc
          }
      }
      sessions.map { s =>
        val cents = s.map(e => math.round(e._2 * 100)).sum
        (uid, s.last._1, s.head._1 + gapMs, s.size.toLong, cents / 100.0)
      }
    }.toSet
    assert(got === expected)
    assert(expected.size > rows.map(_._1).distinct.size,
      "fixture should split at least one user into multiple sessions")
  }

  test("funnel TTL: evicted user RESTARTS from stage 0 on re-emergence") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val twoDaysMs = 2L * 24 * 3600 * 1000
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val df = stream.toDF()
      .select(col("_1").as("user_id"), col("_2").as("ts"),
        col("_3").as("event_id"), col("_4").as("event_type"))
    val q = graft.streaming.EventStream.funnel(spark, df, ttlMs = twoDaysMs)
      .toDF("user_id", "stage")
      .writeStream.format("memory").queryName("funnel_ttl_out")
      .outputMode("update").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      def stages = spark.table("funnel_ttl_out").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // user 1 advances to stage 1 on Jan 1
      stream.addData((1L, ts("2024-01-01 10:00:00"), 1L, "view"))
      q.processAllAvailable()
      assert(stages.contains((1L, 1)))
      // watermark jumps to Mar 1 (batch N's watermark is set from batch
      // N-1's max event time, so the timeout fires one batch later)
      stream.addData((99L, ts("2024-03-01 10:00:00"), 2L, "view"))
      q.processAllAvailable()
      stream.addData((98L, ts("2024-03-01 11:00:00"), 3L, "view"))
      q.processAllAvailable() // user 1's state evicted here
      // user 1 re-emerges with the stage-2 step: a retained state would
      // advance 1 → 2; a restarted funnel ignores "click" at stage 0
      stream.addData((1L, ts("2024-03-02 09:00:00"), 4L, "click"))
      q.processAllAvailable()
      val last1 = stages.filter(_._1 == 1L).last
      assert(last1 === ((1L, 0)),
        s"evicted user must restart from stage 0, got $last1")
    } finally q.stop()
  }

  test("TTL'd cards accept cross-batch out-of-order events inside the ttl horizon") {
    // regression: EventTimeTimeout applies the watermark as an INPUT
    // filter, so the old zero-delay watermark silently dropped every
    // cross-batch late event (the card under-counted and no ttl value
    // could fix it). With delay = ttl, late events within the eviction
    // horizon must land.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // safe-by-design check disable, same grounds as the DAU/retention TTL
    // test: the emitted delta rows carry no event-time column
    val ck = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(ck)
    spark.conf.set(ck, "false")
    val sevenDaysMs = 7L * 24 * 3600 * 1000
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val df = stream.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q = graft.streaming.EventStream.activeUsers(spark, df, ttlMs = sevenDaysMs)
      .writeStream.format("memory").queryName("ttl_late_out")
      .outputMode("complete").start()
    try {
      stream.addData((1L, ts("2024-01-10 12:00:00")))
      q.processAllAvailable()
      // two days EARLIER than anything seen, delivered a batch later
      stream.addData((2L, ts("2024-01-08 09:00:00")))
      q.processAllAvailable()
      val dau = spark.table("ttl_late_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dau.get("2024-01-08").contains(1L),
        s"late in-horizon day must be counted, got $dau")
      assert(dau.get("2024-01-10").contains(1L))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(ck, v)
        case None => spark.conf.unset(ck)
      }
    }
  }

  test("DAU/retention TTL: eviction + re-emergence matches the documented drift") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the TTL'd cards chain flatMapGroupsWithState → aggregation under a
    // watermark, which trips Spark's conservative global-watermark pattern
    // check; it is safe HERE because the emitted delta rows carry no
    // event-time column, so the downstream sum can never drop them as
    // late (see the operators' scaladoc) — disable the check for this test
    val ck = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(ck)
    spark.conf.set(ck, "false")
    try dauRetentionTtlBody()
    finally prev match {
      case Some(v) => spark.conf.set(ck, v)
      case None => spark.conf.unset(ck)
    }
  }

  private def dauRetentionTtlBody(): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val twoDaysMs = 2L * 24 * 3600 * 1000
    // -- DAU/WAU: a re-emerging evicted user's NEW day stays EXACT (a new
    // day is +1 DAU regardless of history; the idle gap ≫ 7 days means no
    // WAU window straddles it) — the drift window is only post-eviction
    // REPLAYS, which the watermark's late-event filter drops here
    val evs = MemoryStream[(Long, java.sql.Timestamp)]
    val dfe = evs.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q = graft.streaming.EventStream.activeUsers(spark, dfe, ttlMs = twoDaysMs)
      .writeStream.format("memory").queryName("dau_ttl_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    val batches = Seq(
      Seq((1L, ts("2024-01-01 10:00:00"))),
      Seq((2L, ts("2024-03-01 10:00:00"))),
      Seq((3L, ts("2024-03-01 11:00:00"))), // user 1 evicted this batch
      Seq((1L, ts("2024-03-02 09:00:00")))) // re-emergence, NEW day
    try {
      batches.foreach { b => evs.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("dau_ttl_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.queries.EventQueries.activeUsersOf(
        batches.flatten.toDF("user_id", "ts"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, "new-day re-emergence after eviction stays exact")
    } finally q.stop()
    // -- retention: the SAME re-emergence drifts exactly as documented —
    // the forgotten user's new first-seen day becomes a fresh cohort
    // instead of a far offset under the old one
    val evs2 = MemoryStream[(Long, java.sql.Timestamp)]
    val dfe2 = evs2.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q2 = graft.streaming.EventStream.retention(spark, dfe2, ttlMs = twoDaysMs)
      .writeStream.format("memory").queryName("ret_ttl_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      batches.foreach { b => evs2.addData(b: _*); q2.processAllAvailable() }
      val got = spark.table("ret_ttl_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .filter(_._3 > 0).toSet
      // user 1 re-cohorted at their post-eviction first-seen day…
      assert(got.contains(("2024-03-02", 0L, 1L)))
      // …not at offset 61 under the original Jan 1 cohort (what batch ev3
      // computes over the full log — the documented, horizon-bounded drift)
      assert(!got.exists { case (c, o, _) => c == "2024-01-01" && o == 61L })
      assert(got.contains(("2024-01-01", 0L, 1L)), "pre-eviction cohort row stays")
    } finally q2.stop()
  }

  test("streaming crawl frontier: first-seen links, crawled-page suppression, resolution") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def page(id: Long, url: String, hrefs: String*): (Long, String, String) =
      (id, url, hrefs.map(h => s"""<a href="$h">x</a>""").mkString("<p>", " ", "</p>"))
    // batch A: two pages; one link is root-relative, one carries utm noise,
    // one points at a page that will be CRAWLED in batch B
    val batchA = Seq(
      page(1L, "https://a.example/p1",
        "/local", "https://b.example/p9?utm_source=f&ref=1", "https://c.example/p5"),
      page(2L, "https://a.example/p2", "https://c.example/p5")) // dup link in-batch
    // batch B: c.example/p5 gets crawled (its url was already emitted in A —
    // state stays marked, no re-emission); it links BACK to a crawled page
    // (a.example/p1 — suppressed) and to something new
    val batchB = Seq(
      page(5L, "https://c.example/p5", "https://a.example/p1", "https://d.example/new"))
    val stream = MemoryStream[(Long, String, String)]
    val pages = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("url"),
      col("_3").as("html"))
    val out = graft.streaming.DocStream.frontier(spark, pages)
    val q = out.writeStream.format("memory").queryName("frontier_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    stream.addData(batchA: _*)
    q.processAllAvailable()
    val afterA = spark.table("frontier_sink").as[(String, Long)].collect().toMap
    assert(afterA === Map(
      "https://a.example/local" -> 1L,          // root-relative resolved
      "https://b.example/p9?ref=1" -> 1L,       // utm stripped
      "https://c.example/p5" -> 1L))            // min doc_id wins the dup
    stream.addData(batchB: _*)
    q.processAllAvailable()
    val afterB = spark.table("frontier_sink").as[(String, Long)].collect().toMap
    q.stop()
    // only the genuinely-new link appears: c/p5 was already emitted,
    // a/p1 is a crawled page (self-marked in batch A)
    assert(afterB === afterA + ("https://d.example/new" -> 5L))
  }

  test("robotsGate: host rules filter the frontier stream; absent hosts allow") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val robots = Seq(
      ("blocked.example", "User-agent: *\nDisallow: /"),
      ("partial.example", "User-agent: *\nDisallow: /private/\nAllow: /private/ok$"))
      .toDF("host", "robots_txt")
    val stream = MemoryStream[(String, Long)]
    val rows = stream.toDS()
      .map(r => graft.streaming.DocStream.FrontierRow(r._1, r._2))
    val q = graft.streaming.DocStream.robotsGate(spark, rows, robots, "graftbot")
      .writeStream.format("memory").queryName("robots_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    stream.addData(
      ("https://blocked.example/a", 1L),
      ("https://partial.example/private/x", 2L),
      ("https://partial.example/private/ok", 3L),
      ("https://partial.example/pub", 4L),
      ("https://open.example/x", 5L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("robots_sink").as[(String, Long)].collect().toMap
    assert(got === Map(
      "https://partial.example/private/ok" -> 3L, // anchored Allow beats Disallow
      "https://partial.example/pub" -> 4L,
      "https://open.example/x" -> 5L)) // no robots row → allow
  }

  test("frontier → robotsGate compose in ONE streaming query") {
    // stateful first-seen election followed by the stateless
    // stream-static robots join + map-side filter — one query, no
    // intermediate sink needed
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val robots = Seq(("deny.example", "User-agent: *\nDisallow: /"))
      .toDF("host", "robots_txt")
    val stream = MemoryStream[(Long, String, String)]
    val pages = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("url"),
      col("_3").as("html"))
    val out = graft.streaming.DocStream.robotsGate(spark,
      graft.streaming.DocStream.frontier(spark, pages), robots, "graftbot")
    val q = out.writeStream.format("memory").queryName("fr_gate_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    stream.addData((1L, "https://ok.example/p1",
      """<a href="https://deny.example/x">a</a> <a href="/keep">b</a>"""))
    q.processAllAvailable()
    // re-discovery of the kept link stays suppressed by the frontier state
    stream.addData((2L, "https://ok.example/p2", """<a href="/keep">b</a>"""))
    q.processAllAvailable(); q.stop()
    val got = spark.table("fr_gate_sink").as[(String, Long)].collect().toMap
    assert(got === Map("https://ok.example/keep" -> 1L))
  }

  test("frontier on the RocksDB state store: same semantics, restart survival") {
    // the web-scale form (SCALE.md §8.7): per-URL state off-heap in
    // RocksDB — same first-seen election, state must survive a
    // checkpointed restart exactly like the HDFS-backed default
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, String, String)]
      val pages = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("url"),
        col("_3").as("html"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_frontier_rdb_").toString
      def runStage(name: String): Set[String] = {
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val q = graft.streaming.DocStream.frontier(spark, pages)
          .writeStream.queryName(name)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
                _: Long) => b.collect().foreach(r => buf.add(r.url))
          }
          .start()
        try q.awaitTermination(60000) finally q.stop()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSet
      }
      stream.addData((1L, "https://r.example/p1",
        """<a href="/one">a</a> <a href="/two">b</a>"""))
      assert(runStage("frontier_rdb_1") ===
        Set("https://r.example/one", "https://r.example/two"))
      // restart over the same checkpoint: /one re-discovered (suppressed by
      // RocksDB-persisted state), /three is new
      stream.addData((2L, "https://r.example/p2",
        """<a href="/one">a</a> <a href="/three">c</a>"""))
      assert(runStage("frontier_rdb_2") === Set("https://r.example/three"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("frontier state survives a checkpointed restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, String)]
    val pages = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("url"),
      col("_3").as("html"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_frontier_ck_").toString
    def runStage(name: String): Set[String] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = graft.streaming.DocStream.frontier(spark, pages)
        .writeStream.queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
              _: Long) => b.collect().foreach(r => buf.add(r.url))
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSet
    }
    def html(hrefs: String*): String =
      hrefs.map(h => s"""<a href="$h">x</a>""").mkString("<p>", " ", "</p>")
    stream.addData((1L, "https://a.example/p1",
      html("https://l.example/one", "https://l.example/two")))
    assert(runStage("frontier_r1") ===
      Set("https://l.example/one", "https://l.example/two"))
    // after the restart the recovered state must still suppress the
    // emitted link AND the crawled page's own url
    stream.addData((2L, "https://b.example/p2",
      html("https://l.example/one", "https://a.example/p1", "https://l.example/three")))
    assert(runStage("frontier_r2") === Set("https://l.example/three"))
  }

  test("streaming postings index: batch parity, replay idempotence, compaction") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // term overlap across batches; small page size forces real merging
    val batchA = Seq((5L, "alpha beta gamma"), (2L, "alpha beta"), (9L, "alpha solo"))
    val batchB = Seq((1L, "alpha beta"), (7L, "alpha delta"), (3L, "beta gamma"))
    val page = 3
    val root = java.nio.file.Files.createTempDirectory("graft_postings_").toString
    val basePath = s"$root/ii_base"
    val stream = MemoryStream[(Long, String)]
    val docsDf = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.DocStream.startPostingsSink(
      docsDf, basePath, s"$root/ckpt", page,
      Trigger.ProcessingTime("100 milliseconds"))
    stream.addData(batchA: _*)
    q.processAllAvailable()
    stream.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()

    // merged index = the batch build over all docs so far: 'alpha' df=5
    // with page [1,2,5] (the 2 smallest of A merge with B's), proving the
    // page really merges across deltas rather than concatenating
    val all = (batchA ++ batchB).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    val expected = asMap(graft.queries.RetrievalQueries.postingsIndexOf(all, page))
    assert(expected("alpha") === ((5L, List(1L, 2L, 5L))))
    def index = graft.streaming.DocStream.postingsIndex(spark, basePath, page)
    assert(asMap(index) === expected)

    // replay idempotence: re-running the last batch under its own id
    // overwrites its partition — the index is unchanged
    val bId = spark.read.parquet(basePath)
      .agg(max(col("batch_id").cast("long"))).collect().head.getLong(0)
    graft.streaming.DocStream.postingsBatch(
      batchB.toDF("doc_id", "text"), bId, basePath, page)
    assert(asMap(index) === expected)

    // compaction folds deltas into one term-sorted tier; same answers,
    // and a post-compaction delta lands beside it and still merges
    graft.tools.Compact.postingsBase(spark, basePath, files = 2, page = page)
    assert(asMap(index) === expected, "post-compaction index parity")
    val partDirs = new java.io.File(basePath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(partDirs === Array("batch_id=-1"), partDirs.mkString(","))
    graft.streaming.DocStream.postingsBatch(
      Seq((0L, "alpha omega")).toDF("doc_id", "text"), bId + 1, basePath, page)
    val expected2 = asMap(graft.queries.RetrievalQueries.postingsIndexOf(
      all.union(Seq((0L, "alpha omega")).toDF("doc_id", "text")), page))
    assert(expected2("alpha")._2 === List(0L, 1L, 2L)) // new doc enters the page
    assert(asMap(index) === expected2)
  }

  test("politeFrontier: per-host caps per trigger, bounded drip, frontier recrawl TTL") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_polite_").toString
    val stream = MemoryStream[(String, Long)]
    val frontierRows = stream.toDS()
      .map(r => graft.streaming.DocStream.FrontierRow(r._1, r._2))
    // batch-grained capture: the per-TRIGGER cap is the contract, and an
    // AvailableNow run may execute several timeout-fired drain batches
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
    // ProcessingTimeTimeout drains need trigger activity with no new data:
    // the deterministic harness is AvailableNow restarts over one
    // checkpoint (the firstSeenDocs TTL discipline) — restarts fire the
    // expired drain deadlines
    def runStage(): Unit = {
      val q = graft.streaming.DocStream
        .politeFrontier(spark, frontierRows, perTrigger = 2, maxPending = 3,
          drainMs = 1L)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.PoliteRow],
              _: Long) =>
            val rows = b.collect().map(r => (r.host, r.url)).toSeq
            if (rows.nonEmpty) batches.add(rows); ()
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    // 7 URLs on one host + 1 on another in one batch
    stream.addData((1L to 7L).map(i => (s"https://big.example/p$i", i)) :+
      (("https://small.example/x", 9L)): _*)
    runStage()
    Thread.sleep(50); runStage() // drain whatever deadlines remained
    Thread.sleep(50); runStage()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // per-trigger cap: never more than 2 rows of one host in any batch
    assert(got.forall(b => b.groupBy(_._1).values.forall(_.size <= 2)),
      s"per-host per-trigger cap violated: $got")
    // the small host rides the FIRST batch — the big host's budget never
    // starves it
    assert(got.head.contains(("small.example", "https://small.example/x")))
    // deterministic (first_doc, url) drip order across batches; of the 5
    // excess only maxPending=3 queued (p3-p5), p6/p7 dropped — the
    // documented bounded-state frontier miss the recrawl TTL repairs
    assert(got.flatten.filter(_._1 == "big.example").map(_._2) ===
      (1 to 5).map(i => s"https://big.example/p$i"))
    val drained = batches.size
    Thread.sleep(50); runStage()
    assert(batches.size === drained, "nothing left after the queue drains")

    // recrawl TTL upstream: a frontier URL whose state expired re-emits
    // on rediscovery — the politeness stage then budgets it again
    val pages = MemoryStream[(Long, String, String)]
    val fr = graft.streaming.DocStream.frontier(spark,
      pages.toDF().select(col("_1").as("doc_id"), col("_2").as("url"),
        col("_3").as("html")),
      ttlMs = 1L)
    val fBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runFrontier(ck: String): Seq[String] = {
      val before = fBuf.size
      val q = fr.writeStream
        .option("checkpointLocation", s"$root/$ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
              _: Long) => b.collect().foreach(r => fBuf.add(r.url))
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
      import scala.jdk.CollectionConverters._
      fBuf.asScala.toSeq.drop(before)
    }
    val page = (1L, "https://a.example/", """<a href="/next">n</a>""")
    pages.addData(page)
    assert(runFrontier("fckpt") === Seq("https://a.example/next"))
    Thread.sleep(50) // state idles past the 1 ms TTL while the query is down
    pages.addData((2L, "https://a.example/", """<a href="/next">n</a>"""))
    assert(runFrontier("fckpt") === Seq("https://a.example/next"),
      "an expired URL re-emits on rediscovery: the recrawl path")
  }

  test("stateful band-keyed near-dup (the §8.5 rung) ≡ independent estimator reference, on RocksDB") {
    // the band index AS keyed state: flatMapGroupsWithState keyed by
    // (band, band_hash) on RocksDB, signature-estimated verify. Expected
    // pair set derived independently: banded candidates from the batch
    // DataFrame kernel + plain-Scala component-match estimate + the
    // operator's declared ordering (base batch before probe batch,
    // doc_id order within a batch), none of the stateful machinery.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sf = "/root/testdata/sf0.001"
      val docs = graft.queries.Tables(spark, sf, "documents")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (odd, even) = docs.partition(_._1 % 2 == 1)
      val batchOf = docs.map { case (id, _) => id -> (if (id % 2 == 1) 0 else 1) }.toMap

      val root = java.nio.file.Files.createTempDirectory("graft_ndstate_").toString
      val stream = MemoryStream[(Long, String)]
      val emitted =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      def runStage(): Unit = {
        val q = graft.streaming.DocStream.nearDupMatchesStateful(spark,
            stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
            maxPerBucket = 10000)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              emitted.add((r.getLong(0), r.getLong(1), r.getDouble(2)))); ()
          }
          .start()
        try q.awaitTermination(120000) finally q.stop()
      }
      stream.addData(odd: _*)
      runStage()
      stream.addData(even: _*)
      runStage() // second query start over the same checkpoint: RocksDB state survives

      import scala.jdk.CollectionConverters._
      val got = emitted.asScala.toSet // consumers dedup multi-band repeats

      // independent reference over the static union
      val allDf = docs.toSeq.toDF("doc_id", "text")
      val sigRows = graft.queries.DedupQueries.signaturesOf(allDf)
        .select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val banded = graft.queries.DedupQueries.bandedKeys(
          graft.queries.DedupQueries.signaturesOf(allDf))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val want = banded.groupBy(t => (t._2, t._3)).values.toSeq.flatMap { bucket =>
        val ids = bucket.map(_._1).distinct.toSeq
        for {
          n <- ids; b <- ids
          if b != n
          // b is "earlier": prior batch, or same batch with smaller id
          if batchOf(b) < batchOf(n) || (batchOf(b) == batchOf(n) && b < n)
          est = sigRows(n).zip(sigRows(b)).count { case (x, y) => x == y } / 64.0
          if est >= graft.queries.DedupQueries.JaccardThreshold
        } yield (n, b, est)
      }.toSet
      assert(want.nonEmpty, "fixture must contain estimator-grade near-dups")
      assert(got === want,
        s"stateful ≠ reference; missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // cross-batch pairs exist — the RocksDB state carried batch 1's members
      assert(got.exists { case (n, b, _) => batchOf(n) == 1 && batchOf(b) == 0 },
        "no cross-batch match: state did not survive the restart")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("politeFrontier on the RocksDB state store: same cap/drip semantics") {
    // the scale rung the frontier already runs on (SCALE.md §8.7), now for
    // the politeness stage's per-host drip state: same per-trigger cap and
    // deterministic drain order with the state off-heap in RocksDB
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = java.nio.file.Files.createTempDirectory("graft_polite_rdb_").toString
      val stream = MemoryStream[(String, Long)]
      val frontierRows = stream.toDS()
        .map(r => graft.streaming.DocStream.FrontierRow(r._1, r._2))
      val batches =
        new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
      def runStage(): Unit = {
        val q = graft.streaming.DocStream
          .politeFrontier(spark, frontierRows, perTrigger = 2, maxPending = 10,
            drainMs = 1L)
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.PoliteRow],
                _: Long) =>
              val rows = b.collect().map(r => (r.host, r.url)).toSeq
              if (rows.nonEmpty) batches.add(rows); ()
          }
          .start()
        try q.awaitTermination(60000) finally q.stop()
      }
      stream.addData((1L to 5L).map(i => (s"https://rdb.example/p$i", i)): _*)
      runStage()
      Thread.sleep(50); runStage() // restarts fire the expired drain deadlines
      Thread.sleep(50); runStage()
      import scala.jdk.CollectionConverters._
      val got = batches.asScala.toSeq
      assert(got.forall(_.size <= 2), s"per-trigger cap violated on RocksDB: $got")
      assert(got.flatten.map(_._2) === (1 to 5).map(i => s"https://rdb.example/p$i"),
        "deterministic (first_doc, url) drip order must survive the provider swap")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("recrawlDue: not-due suppression, due-at-interval emission, once per interval") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_recrawl_").toString
    def runDue(stream: MemoryStream[(Long, String)], ck: String,
        intervalMs: Long,
        buf: java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]): Unit = {
      val crawled = stream.toDF()
        .select(col("_2").as("url"), col("_1").as("doc_id"))
      val q = graft.streaming.DocStream.recrawlDue(spark, crawled, intervalMs)
        .writeStream
        .option("checkpointLocation", s"$root/$ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
              _: Long) => b.collect().foreach(r => buf.add((r.url, r.first_doc)))
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    import scala.jdk.CollectionConverters._

    // NOT-DUE: with a long interval, neither the first crawl nor a prompt
    // re-crawl emits — the re-crawl just re-arms the deadline
    val sup = MemoryStream[(Long, String)]
    val supBuf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    sup.addData((1L, "https://r.example/page"))
    runDue(sup, "sup", intervalMs = 600000L, supBuf)
    sup.addData((2L, "https://r.example/page")) // recrawled well inside the interval
    runDue(sup, "sup", intervalMs = 600000L, supBuf)
    assert(supBuf.isEmpty, s"not-due URL must stay suppressed: ${supBuf.asScala}")

    // DUE: with a tiny interval, the deadline fires on the first trigger
    // after it elapses (an AvailableNow run's trailing batch may already
    // be past the 1 ms deadline, so the emission may land in the crawl's
    // own run or the next — both are "after the interval"): the URL
    // emits as recrawl work, attributed to its LATEST crawl, exactly
    // once (state clears on emission)
    val due = MemoryStream[(Long, String)]
    val dueBuf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    due.addData((3L, "https://r.example/hot"), (4L, "https://r.example/hot"))
    runDue(due, "due", intervalMs = 1L, dueBuf)
    Thread.sleep(50) // the interval elapses while the query is down
    runDue(due, "due", intervalMs = 1L, dueBuf)
    assert(dueBuf.asScala.toSeq === Seq(("https://r.example/hot", 4L)),
      "due URL emits once, attributed to its latest crawl")
    Thread.sleep(50); runDue(due, "due", intervalMs = 1L, dueBuf)
    assert(dueBuf.size === 1, "a fired URL does not re-emit without a new crawl")
  }

  test("recrawlDueEventTime: due at interval in EVENT time, replay-deterministic") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_recrawl_et_").toString
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(): Unit = {
      val crawled = stream.toDF()
        .select(col("_2").as("url"), col("_1").as("doc_id"),
          col("_3").as("crawl_ts"))
      val q = graft.streaming.DocStream
        .recrawlDueEventTime(spark, crawled, intervalMs = 60000L)
        .writeStream
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
              _: Long) => b.collect().foreach(r => buf.add((r.url, r.first_doc)))
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val a = "https://et.example/a"

    // a crawled at 0s, RE-crawled at 30s (re-arms the deadline to 90s in
    // event time), plus a watermark pusher at 70s: a is NOT due — its
    // re-armed deadline sits past the watermark. Wall-clock sleeps play
    // no part anywhere in this test; the 60 s interval is event time.
    stream.addData((1L, a, ts(0)), (2L, a, ts(30000)),
      (9L, "https://et.example/p1", ts(70000)))
    run()
    assert(!buf.asScala.exists(_._1 == a),
      s"re-armed URL must not fire before its EVENT-time deadline: ${buf.asScala}")

    // a pusher at 200s drives the watermark past 90s: a comes due,
    // attributed to its LATEST crawl (doc 2) — within wall-clock
    // milliseconds of a 60 s event-time schedule (replay determinism)
    stream.addData((10L, "https://et.example/p2", ts(200000)))
    run()
    assert(buf.asScala.toSeq.filter(_._1 == a) === Seq((a, 2L)),
      s"URL must fire once at its event-time deadline, latest-doc attributed: ${buf.asScala}")

    // no re-fire without a new crawl, however far the watermark advances
    stream.addData((11L, "https://et.example/p3", ts(500000)))
    run()
    assert(buf.asScala.count(_._1 == a) === 1,
      "a fired URL must not re-emit without a new crawl")
    // every URL fires at most once per interval across the whole drain
    val counts = buf.asScala.groupBy(identity).map(_._2.size)
    assert(counts.forall(_ == 1), s"duplicate emissions: ${buf.asScala}")
  }

  test("recrawl composes ahead of politeFrontier: due URLs pay the per-host budget") {
    // the documented composition, made concrete: two flatMapGroupsWithState
    // stages can't chain in one query, so recrawl-due rows LAND as files
    // and the politeness stage streams the landing dir — the same
    // file-relay every multi-stage crawl loop here uses
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_recrawl_comp_").toString
    val landing = s"$root/due"
    new java.io.File(landing).mkdirs()

    // stage 1: crawled pages -> recrawl-due rows -> parquet landing dir
    val crawls = MemoryStream[(Long, String)]
    def runDueStage(): Unit = {
      val q = graft.streaming.DocStream.recrawlDue(spark,
          crawls.toDF().select(col("_2").as("url"), col("_1").as("doc_id")),
          intervalMs = 1L)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt_due")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
              _: Long) =>
            if (!b.isEmpty) b.toDF()
              .select(col("url"), col("first_doc"))
              .write.mode("append").parquet(landing); ()
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    // 5 crawled pages on one host, all due after the 1 ms interval
    crawls.addData((1L to 5L).map(i => (i, s"https://re.example/p$i")): _*)
    runDueStage()
    Thread.sleep(50); runDueStage() // fire the elapsed deadlines
    val due = spark.read.parquet(landing)
    assert(due.count() === 5, "all 5 URLs must come due")

    // stage 2: the landing dir streams into politeFrontier — the recrawl
    // work drips under the same per-host cap as fresh discoveries
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
    def runPolite(): Unit = {
      val src = spark.readStream.schema(due.schema).parquet(landing)
        .as[graft.streaming.DocStream.FrontierRow]
      val q = graft.streaming.DocStream
        .politeFrontier(spark, src, perTrigger = 2, maxPending = 10, drainMs = 1L)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt_polite")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.PoliteRow],
              _: Long) =>
            val rows = b.collect().map(r => (r.host, r.url)).toSeq
            if (rows.nonEmpty) batches.add(rows); ()
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    runPolite()
    Thread.sleep(50); runPolite()
    Thread.sleep(50); runPolite()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    assert(got.forall(_.size <= 2), s"recrawl work must honor the cap: $got")
    assert(got.flatten.map(_._2).toSet ===
      (1L to 5L).map(i => s"https://re.example/p$i").toSet,
      "every due URL must eventually drip out")
  }

  test("event-time recrawl → politeFrontier under an AvailableNow backfill: once each, host-budgeted, replay-identical") {
    // the scenario recrawlDueEventTime EXISTS for: a month of crawl
    // history drained as a backfill. Deadlines must key off the data's
    // own crawl_ts (draining the month in seconds of wall time must not
    // collapse every deadline into "now + interval"), each URL must come
    // due exactly once, the due work must pay the same per-host budget
    // as fresh discoveries, and a second replay of the same month must
    // produce the identical board. Two flatMapGroupsWithState stages
    // can't chain in one query, so due rows land as files and the
    // politeness stage streams the landing dir — the same relay the
    // processing-time composition test uses.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_recrawl_et_comp_").toString
    val Day = 86400000L
    def ts(day: Double) = new java.sql.Timestamp(T0 + (day * Day).toLong)
    // month-shaped history: 3 hosts, crawls spread over days 0-20; one
    // URL re-crawled inside the 7-day interval (re-arms, single due);
    // the day-40 pusher drives the closing watermark (its own deadline,
    // day 47, stays past the watermark and must never emit)
    val week12: Seq[(Long, String, java.sql.Timestamp)] =
      Seq((1L, "https://big.example/p1", ts(0)), (2L, "https://big.example/p2", ts(1)),
        (3L, "https://big.example/p3", ts(2)), (4L, "https://big.example/p4", ts(3)),
        (5L, "https://mid.example/a", ts(4)), (6L, "https://mid.example/b", ts(5)),
        (7L, "https://small.example/only", ts(6)),
        (8L, "https://big.example/p1", ts(3.5))) // re-crawl: re-arms p1 to day 10.5
    val week34: Seq[(Long, String, java.sql.Timestamp)] =
      Seq((9L, "https://big.example/p5", ts(14)), (10L, "https://mid.example/c", ts(15)),
        (11L, "https://big.example/p6", ts(20)),
        (99L, "https://pusher.example/wm", ts(40)))
    def replayDue(tag: String): Seq[(String, Long)] = {
      val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      def run(): Unit = {
        val crawled = stream.toDF().select(col("_2").as("url"),
          col("_1").as("doc_id"), col("_3").as("crawl_ts"))
        val q = graft.streaming.DocStream
          .recrawlDueEventTime(spark, crawled, intervalMs = 7 * Day)
          .writeStream
          .option("checkpointLocation", s"$root/$tag/ck")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.FrontierRow],
                _: Long) => b.collect().foreach(r => buf.add((r.url, r.first_doc)))
          }
          .start()
        try q.awaitTermination(60000) finally q.stop()
      }
      // identical drain schedule each replay: weeks 1-2, then weeks 3-4 +
      // pusher, then a restart to flush deadlines the closing watermark
      // released (an AvailableNow drain stops with data, not timeouts)
      stream.addData(week12: _*); run()
      stream.addData(week34: _*); run()
      run()
      buf.asScala.toSeq
    }
    val dueA = replayDue("a")
    val dueB = replayDue("b")
    // every URL once, latest-crawl attributed (p1 → the day-3.5 re-crawl's
    // doc 8), the pusher never due
    val want = Set(("https://big.example/p1", 8L), ("https://big.example/p2", 2L),
      ("https://big.example/p3", 3L), ("https://big.example/p4", 4L),
      ("https://mid.example/a", 5L), ("https://mid.example/b", 6L),
      ("https://small.example/only", 7L), ("https://big.example/p5", 9L),
      ("https://mid.example/c", 10L), ("https://big.example/p6", 11L))
    assert(dueA.toSet === want, s"due set: $dueA")
    assert(dueA.size === want.size, s"each URL due exactly once: $dueA")
    assert(dueA.sorted === dueB.sorted,
      s"two replays of the same month must emit the identical due board: $dueA vs $dueB")

    // relay: the due board lands as files (sorted write — stage-2 input
    // is byte-identical across its own replays by construction)
    val landing = s"$root/due"
    dueA.sortBy(identity).toDF("url", "first_doc")
      .coalesce(1).write.parquet(landing)
    def replayPolite(tag: String): Seq[Set[(String, String, Long)]] = {
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[(String, String, Long)]]()
      def run(): Unit = {
        val src = spark.readStream
          .schema(spark.read.parquet(landing).schema).parquet(landing)
          .as[graft.streaming.DocStream.FrontierRow]
        val q = graft.streaming.DocStream
          .politeFrontier(spark, src, perTrigger = 2, maxPending = 10, drainMs = 1L)
          .writeStream
          .option("checkpointLocation", s"$root/$tag/ck_polite")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.DocStream.PoliteRow],
                _: Long) =>
              val rows = b.collect().map(r => (r.host, r.url, r.first_doc)).toSet
              if (rows.nonEmpty) batches.add(rows); ()
          }
          .start()
        try q.awaitTermination(60000) finally q.stop()
      }
      run()
      Thread.sleep(50); run()
      Thread.sleep(50); run()
      batches.asScala.toSeq
    }
    val politeA = replayPolite("a")
    val politeB = replayPolite("b")
    // both replays independently honor the budget discipline. NOTE: raw
    // batch STRUCTURE is deliberately not compared across replays —
    // drainMs drips on PROCESSING-time timeouts, so how many drain
    // batches an AvailableNow restart fires is wall-clock-dependent; the
    // replay-stable claims are the due board (stage 1, event time), the
    // emitted row set, the per-trigger caps, and the drip order.
    for ((polite, tag) <- Seq((politeA, "a"), (politeB, "b"))) {
      // per-trigger host budget holds for recrawl work exactly as for
      // fresh discoveries (big.example has 6 due URLs → ≥3 drip batches)
      polite.foreach { batch =>
        val perHost = batch.groupBy(_._1).map(_._2.size)
        assert(perHost.forall(_ <= 2), s"[$tag] host budget violated: $batch")
      }
      assert(polite.flatten.map(_._2).toSet === want.map(_._1),
        s"[$tag] every due URL drips out under the budget")
      assert(polite.flatten.size === want.size, s"[$tag] no URL emits twice")
      // the drip follows the documented deterministic (first_doc, url)
      // ascending queue: per host, every row in an earlier batch
      // precedes every row in a later one
      polite.flatten.map(_._1).toSet.foreach { (h: String) =>
        val perBatchDocs = polite.map(_.filter(_._1 == h).map(_._3)).filter(_.nonEmpty)
        perBatchDocs.sliding(2).foreach {
          case Seq(prev, next) =>
            assert(prev.max < next.min, s"[$tag] $h dripped out of order: $perBatchDocs")
          case _ =>
        }
      }
    }
    assert(politeA.flatten.toSet === politeB.flatten.toSet,
      "two replays must emit the identical row board")
  }

  test("streaming postings: multi-page merge parity, truncation, compaction") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val page = 2; val maxPages = 3
    // 'alpha' df=7 exceeds the page·maxPages=6 capacity: pages must hold
    // the 6 globally-smallest ids in sorted 2-id pages, merged ACROSS the
    // two deltas (neither batch alone holds pages 0-2's ids)
    val batchA = Seq((5L, "alpha beta"), (2L, "alpha"), (9L, "alpha beta"),
      (11L, "alpha"))
    val batchB = Seq((1L, "alpha beta"), (7L, "alpha"), (3L, "alpha gamma"))
    val root = java.nio.file.Files.createTempDirectory("graft_postings_mp_").toString
    val basePath = s"$root/ii_base"
    val stream = MemoryStream[(Long, String)]
    val docsDf = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    // the sink writes deltas at the widened capacity — each batch keeps
    // its own 6 smallest, so the merged bottom-6 is exact
    val q = graft.streaming.DocStream.startPostingsSink(
      docsDf, basePath, s"$root/ckpt", page * maxPages,
      Trigger.ProcessingTime("100 milliseconds"))
    stream.addData(batchA: _*)
    q.processAllAvailable()
    stream.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()

    val all = (batchA ++ batchB).toDF("doc_id", "text")
    def asPages(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getSeq[Long](3).toList)
      .toMap
    val expected = asPages(
      graft.queries.RetrievalQueries.postingsShards(all, page, maxPages))
    assert(expected(("alpha", 7L, 0L)) === List(1L, 2L))
    assert(expected(("alpha", 7L, 1L)) === List(3L, 5L))
    assert(expected(("alpha", 7L, 2L)) === List(7L, 9L)) // 11 truncated
    def index = graft.streaming.DocStream.postingsIndexPages(
      spark, basePath, page, maxPages)
    assert(asPages(index) === expected)
    // compaction at the widened capacity: same pages afterwards
    graft.tools.Compact.postingsBase(spark, basePath, files = 2,
      page = page * maxPages)
    assert(asPages(index) === expected, "post-compaction multi-page parity")
  }

  test("firstSeenDocs TTL: evicted content re-emits (dedup miss, never a false drop)") {
    // ProcessingTimeTimeout makes the operator request a batch every
    // trigger forever (to sweep future deadlines), so processAllAvailable
    // never returns on a continuous query — the deterministic harness is
    // Trigger.AvailableNow RESTARTS over one checkpoint: each restart's
    // first batch fires every deadline that expired while the query was
    // down (exactly the recovery semantics a production pause/resume has)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fsd_ttl_").toString
    def runStage(name: String): Set[Long] = {
      // foreachBatch, not the memory sink: only checkpoint-recoverable
      // sinks can resume the query across the pause
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = graft.streaming.DocStream.firstSeenDocs(spark, df, ttlMs = 1L)
        .toDF("ch", "doc_id", "text")
        .writeStream.queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => buf.add(r.getLong(1)))
        }
        .start()
      try q.awaitTermination(60000) finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSet
    }
    stream.addData((1L, "hello"), (2L, "hello"), (3L, "other"))
    assert(runStage("fsd_ttl_1") === Set(1L, 3L),
      "within-batch dedup unchanged under TTL")
    Thread.sleep(300) // both contents idle past the 1 ms TTL while down
    stream.addData((4L, "third")) // restart sweeps the expired deadlines
    assert(runStage("fsd_ttl_2") === Set(4L))
    stream.addData((5L, "hello")) // dup of the now-EVICTED content…
    assert(runStage("fsd_ttl_3") === Set(5L),
      "…re-emits: the documented miss the batch index catches downstream")
  }

  test("rollup producer claim is atomic: concurrent different-kind claimers — one refuses") {
    // RawLocalFileSystem.rename silently replaces an existing destination,
    // so a rename-only claim lets two racing claimers of different kinds
    // both "win" (last writer replaces the marker). The exclusive-create
    // lock serializes them: exactly one proceeds, the other sees the
    // winner's kind and refuses.
    val root = java.nio.file.Files.createTempDirectory("graft_claim_race_").toString
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq("batch", "stream").map { kind =>
      new Thread(() => {
        gate.await()
        try graft.streaming.Downsample.claimRollupProducer(spark, root, kind)
        catch { case e: IllegalStateException => errs.add(e) }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(30000))
    assert(errs.size === 1, s"exactly one claimer must refuse, got ${errs.size}")
    assert(errs.peek().getMessage.contains("double-count"))
    val marker = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_rollup_producer")).trim
    assert(Set("batch", "stream")(marker))
    // the winner's kind re-claims freely afterwards
    graft.streaming.Downsample.claimRollupProducer(spark, root, marker)
  }

  test("rollup producer claim breaks a stale lock left by a dead claimer") {
    val root = java.nio.file.Files.createTempDirectory("graft_claim_stale_").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "._rollup_producer.lock"))
    // no marker will ever appear: the claimer must break the lock and win
    graft.streaming.Downsample.claimRollupProducer(spark, root, "stream")
    val marker = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_rollup_producer")).trim
    assert(marker === "stream")
  }

  test("Compact.nearDupBase migrates a legacy flat base into the tiered layout") {
    // a base written by the pre-two-tier sink is root-level flat parquet;
    // the probes read only delta/ + compacted tiers, so without migration
    // those rows are invisible and their dup families get re-admitted
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, sf, "documents").select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_legacy_base_").toString
    val basePath = s"$root/neardup_base"
    val flat = graft.queries.DedupQueries.signaturesOf(docs.where(col("doc_id") < 100))
    flat.coalesce(1).write.parquet(basePath) // the legacy flat layout
    val flatIds = flat.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flatIds.nonEmpty)

    // the new sink appends a delta on top — the MIXED state the migration
    // must not lose either side of
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.startNearDupSink(
      stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      basePath, s"$root/ckpt", Trigger.AvailableNow())
    val deltaDocs = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    stream.addData(deltaDocs.toIndexedSeq: _*)
    q.processAllAvailable(); q.stop()
    val acceptedDelta = graft.streaming.DocStream.nearDupBaseSigs(spark, basePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedDelta.forall(_ >= 100), "flat rows are not yet visible")

    graft.tools.Compact.nearDupBase(spark, basePath, files = 2)
    assert(!new java.io.File(s"$basePath/delta").exists())
    assert(!new java.io.File(basePath).listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      "no root-level flat files may remain after migration")
    val after = graft.streaming.DocStream.nearDupBaseSigs(spark, basePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after === (flatIds ++ acceptedDelta),
      "migration must fold legacy flat rows AND the delta into the tiers")
    // a legacy doc now self-matches through the pruned probe — its dup
    // family stays suppressed
    val probe = graft.streaming.DocStream.nearDupBaseSigs(spark, basePath)
      .where(col("doc_id") < 10)
    val matched = graft.streaming.DocStream.probeNearDupBase(spark, probe, basePath)
      .collect().map(_.getLong(0)).toSet
    assert(matched.nonEmpty && matched.subsetOf(flatIds))
    // idempotent: a second compaction over the migrated base is a no-op
    graft.tools.Compact.nearDupBase(spark, basePath, files = 2)
    assert(graft.streaming.DocStream.nearDupBaseSigs(spark, basePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet === after)
  }
}
