package graft

import graft.model._
import graft.storage.{MemoryStore, ParquetStore, Storage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's parametrized storage functional suite
  * (storages/storages_test.go:51-458): one suite, N storage impls, golden
  * write/read round-trips across the matcher corpus. */
class StorageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // FAIR so the serving-path fairness test is real whichever suite
    // creates the shared context; default-pool behavior stays FIFO
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  // Fixture: 3 series x 5 samples, 1 s apart (storages/test/test.go:26-75),
  // anchored at a fixed epoch for determinism.
  val T0 = 1700000000000L
  def fixture: Seq[TimeSeries] = Seq(
    TimeSeries(
      Seq(Label("__name__", "http_requests_total"), Label("code", "200"), Label("handler", "query")),
      (0 until 5).map(i => Sample(T0 + i * 1000L, Seq(13d, 14d, 14d, 14d, 15d)(i)))),
    TimeSeries(
      Seq(Label("__name__", "http_requests_total"), Label("code", "400"), Label("handler", "query_range")),
      (0 until 5).map(i => Sample(T0 + i * 1000L, Seq(9d, 9d, 9d, 11d, 11d)(i)))),
    TimeSeries(
      Seq(Label("__name__", "http_requests_total"), Label("code", "200"), Label("handler", "prometheus")),
      (0 until 5).map(i => Sample(T0 + i * 1000L, Seq(591d, 592d, 593d, 594d, 595d)(i)))))

  def batchDF(data: Seq[TimeSeries]): DataFrame = {
    import spark.implicits._
    data.flatMap(ts => ts.samples.map(s =>
      (ts.labels.map(l => l.name -> l.value).toMap, s.timestampMs, s.value)))
      .toDF("labels", "timestamp_ms", "value")
  }

  val Start = T0
  val End = T0 + 4000L

  def makeStores(): Map[String, Storage] = Map(
    "memory" -> new MemoryStore(spark),
    "parquet" -> {
      val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
      new ParquetStore(spark, dir)
    })

  private def eqMatch(n: String, v: String) = Matcher(n, MatchType.Eq, v)
  private def neqMatch(n: String, v: String) = Matcher(n, MatchType.Neq, v)
  private def reMatch(n: String, v: String) = Matcher(n, MatchType.Re, v)
  private def nreMatch(n: String, v: String) = Matcher(n, MatchType.Nre, v)

  // (description, matchers, time range override, expected series count)
  val cases: Seq[(String, Seq[Matcher], (Long, Long), Int)] = Seq(
    // ByName (storages_test.go:87-170)
    ("eq name", Seq(eqMatch("__name__", "http_requests_total")), (Start, End), 3),
    ("re name anchored", Seq(reMatch("__name__", "http_requests_.+")), (Start, End), 3),
    ("eq no such metric", Seq(eqMatch("__name__", "no_such_metric")), (Start, End), 0),
    ("re non-anchored proof", Seq(reMatch("__name__", "_requests_")), (Start, End), 0),
    ("zero time range", Seq(eqMatch("__name__", "http_requests_total")), (0L, 0L), 0),
    // ByNonExistingLabel (173-201)
    ("eq non-existing label", Seq(eqMatch("no_such_label", "value")), (Start, End), 0),
    ("re non-existing label", Seq(reMatch("no_such_label", "value")), (Start, End), 0),
    // BySeveralMatchers (203-262)
    ("name AND handler", Seq(eqMatch("__name__", "http_requests_total"), eqMatch("handler", "query")), (Start, End), 1),
    ("name AND code re", Seq(eqMatch("__name__", "http_requests_total"), reMatch("code", "4..")), (Start, End), 1),
    ("name AND neq absent", Seq(eqMatch("__name__", "http_requests_total"), neqMatch("no_such_label", "no_such_value")), (Start, End), 3),
    ("name AND eq-empty absent", Seq(eqMatch("__name__", "http_requests_total"), eqMatch("no_this_label", "")), (Start, End), 3),
    // Empty extension (264-356)
    ("no matchers at all", Seq.empty, (Start, End), 3),
    ("name neq empty", Seq(neqMatch("__name__", "")), (Start, End), 3),
    ("name neq no_such_metric", Seq(neqMatch("__name__", "no_such_metric")), (Start, End), 3),
    ("absent label eq empty", Seq(eqMatch("no_such_label", "")), (Start, End), 3),
    ("absent label neq value", Seq(neqMatch("no_such_label", "value")), (Start, End), 3),
    ("name eq empty", Seq(eqMatch("__name__", "")), (Start, End), 0),
    ("absent label neq empty", Seq(neqMatch("no_such_label", "")), (Start, End), 0),
    ("nre matching everything", Seq(nreMatch("__name__", ".*")), (Start, End), 0),
    // RE2↔Java dialect common subset (SURVEY §2.8 X8 risk): PromQL users
    // write RE2; these constructs must behave identically under Java regex
    ("re alternation+quantifier", Seq(reMatch("__name__", "(http|tcp)_req.*")), (Start, End), 3),
    ("re char class", Seq(reMatch("code", "[45][0-9]{2}")), (Start, End), 1),
    ("re case-insensitive flag", Seq(reMatch("__name__", "(?i)HTTP_REQUESTS_TOTAL")), (Start, End), 3),
    ("re escaped dot literal", Seq(reMatch("__name__", "http\\.requests")), (Start, End), 0),
    ("re empty alternative matches absent", Seq(reMatch("no_such_label", "foo|")), (Start, End), 3),
    ("nre empty alternative", Seq(nreMatch("no_such_label", "foo|")), (Start, End), 0))

  for ((storeName, store) <- makeStores()) {
    test(s"$storeName: write/read golden round-trip") {
      store.write(batchDF(fixture))
      val got = store.readTimeSeries(Query(Start, End, Seq(eqMatch("__name__", "http_requests_total"))))
      val want = fixture.map(ts => ts.copy(labels = ts.sortedLabels))
        .sortBy(ts => (ts.labels.find(_.name == "__name__").map(_.value).getOrElse(""),
          graft.core.Fingerprint.of(ts.labels) ^ Long.MinValue)) // unsigned order
      assert(got === want)
    }

    test(s"$storeName: matcher corpus") {
      for ((desc, matchers, (s0, e0), expected) <- cases) {
        val got = store.readTimeSeries(Query(s0, e0, matchers))
        assert(got.size === expected, s"case: $desc")
      }
    }

    test(s"$storeName: time sub-range is honored (closed interval)") {
      val got = store.readTimeSeries(Query(T0 + 1000, T0 + 3000, Seq(eqMatch("handler", "query"))))
      assert(got.size === 1)
      assert(got.head.samples === Seq(Sample(T0 + 1000, 14d), Sample(T0 + 2000, 14d), Sample(T0 + 3000, 14d)))
    }

    test(s"$storeName: out-of-order and late samples read back time-sorted (O4)") {
      // late data accepted unconditionally, order restored at read
      // (reference: memory.go:119-125; no watermark exists anywhere)
      val late = TimeSeries(Seq(Label("__name__", "ooo_metric")),
        Seq(Sample(T0 + 5000, 5d), Sample(T0 + 1000, 1d), Sample(T0 + 3000, 3d)))
      store.write(batchDF(Seq(late)))
      store.write(batchDF(Seq(TimeSeries(late.labels, Seq(Sample(T0 + 2000, 2d)))))) // late arrival
      val got = store.readTimeSeries(Query(T0, T0 + 10000, Seq(eqMatch("__name__", "ooo_metric"))))
      assert(got.size === 1)
      assert(got.head.samples === Seq(
        Sample(T0 + 1000, 1d), Sample(T0 + 2000, 2d), Sample(T0 + 3000, 3d), Sample(T0 + 5000, 5d)))
    }

    test(s"$storeName: batched multi-query read matches per-query reads") {
      val qs = Seq(
        Query(Start, End, Seq(eqMatch("__name__", "http_requests_total"))),
        Query(Start, End, Seq(eqMatch("__name__", "no_such_metric"))), // empty slot
        Query(T0 + 1000, T0 + 3000, Seq(eqMatch("handler", "query"))),
        Query(Start, End, Seq.empty)) // bulk export
      val batched = store.readAll(qs)
      assert(batched === qs.map(store.readTimeSeries))
      assert(batched(1).isEmpty)
    }
  }

  test("parquet: idempotent write drops replayed samples, keeps new ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_idem_").toString
    val store = new ParquetStore(spark, root)
    val ts = TimeSeries(Seq(Label("__name__", "idem_metric")),
      Seq(Sample(T0, 1d), Sample(T0 + 1000, 2d)))
    store.writeIdempotent(batchDF(Seq(ts)))
    store.writeIdempotent(batchDF(Seq(ts))) // full replay -> no-op
    def count() = spark.read.parquet(s"$root/samples").count()
    assert(count() === 2)
    // partial replay: one dup + one genuinely new sample
    store.writeIdempotent(batchDF(Seq(ts.copy(
      samples = Seq(Sample(T0 + 1000, 2d), Sample(T0 + 2000, 3d))))))
    assert(count() === 3)
    val got = store.readTimeSeries(Query(T0, T0 + 10000,
      Seq(eqMatch("__name__", "idem_metric"))))
    assert(got.head.samples === Seq(Sample(T0, 1d), Sample(T0 + 1000, 2d), Sample(T0 + 2000, 3d)))
  }

  test("parquet: funny labels survive write/read round-trip") {
    // storages_test.go:391-425 escaping corpus
    val funny = Seq(
      TimeSeries(Seq(Label("__name__", "funny_1"), Label("quotes", "'`\"\\")), Seq(Sample(T0, 1d))),
      TimeSeries(Seq(Label("__name__", "funny_2"), Label("bs", "\\ \\\\ \\\\\\\\")), Seq(Sample(T0, 2d))),
      TimeSeries(Seq(Label("__name__", "funny_3"), Label("emoji", "🆗")), Seq(Sample(T0, 3d))),
      TimeSeries(Seq(Label("__name__", "funny_4"), Label("ctl", "a\nb\rc\td")), Seq(Sample(T0, 4d))))
    val dir = java.nio.file.Files.createTempDirectory("graft_funny_").toString
    val store = new ParquetStore(spark, dir)
    store.write(batchDF(funny))
    val got = store.readTimeSeries(Query(T0, T0, Seq(Matcher("__name__", MatchType.Re, "funny_.+"))))
    assert(got === funny.map(ts => ts.copy(labels = ts.sortedLabels)))
  }

  test("rawsql matcher shape bypasses the matcher pipeline (F9/X11)") {
    // reference: storages_test.go:358-388 — each row becomes a
    // single-sample series stamped at the query End time
    val store = new MemoryStore(spark)
    store.write(batchDF(fixture))
    import spark.implicits._
    Seq(("a", 1.5), ("b", 2.5)).toDF("k", "value").createOrReplaceTempView("rawsql_t")
    val got = store.readTimeSeries(Query(0, End, Seq(
      eqMatch("job", "rawsql"),
      eqMatch("query", "SELECT k, value FROM rawsql_t ORDER BY k"))))
    assert(got.size === 2)
    // result order is (name, fingerprint); compare as a set
    assert(got.map(ts => (ts.labels, ts.samples)).toSet === Set(
      (Seq(Label("k", "a")), Seq(Sample(End, 1.5))),
      (Seq(Label("k", "b")), Seq(Sample(End, 2.5)))))
  }

  test("parquet: second write only appends new series to the dictionary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_").toString
    val store = new ParquetStore(spark, dir)
    store.write(batchDF(fixture))
    store.write(batchDF(fixture)) // same series again
    val dict = spark.read.parquet(s"$dir/time_series")
    assert(dict.count() === 3) // no duplicate dictionary rows
    // but samples appended twice
    assert(spark.read.parquet(s"$dir/samples").count() === 30)
  }

  test("parquet: rollup store serves hinted reads from pre-aggregated buckets, raw never scanned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_").toString
    val rollupStore = new ParquetStore(spark, dir, rollupStepMs = 1000L)
    rollupStore.write(batchDF(fixture))
    // second batch lands in the SAME rollup buckets -> partial rows that
    // must re-merge exactly at read (aggregates are algebraic)
    rollupStore.write(batchDF(fixture.map(ts => ts.copy(
      samples = ts.samples.map(s => Sample(s.timestampMs + 500, s.value + 100))))))

    val rawStore = new ParquetStore(spark, dir) // no rollup: aggregates raw at read
    // quantile:<q> included: the raw path sketches all samples in one pass,
    // the rollup path merges per-batch partials — DDSketch merge-order
    // independence makes the two bit-identical
    for (func <- Seq("max_over_time", "min_over_time", "count", "sum", "avg_over_time",
        "last_over_time", "rate", "increase", "delta",
        "quantile:0.5_over_time", "quantile:0.99")) {
      val q = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
        Some(ReadHints(stepMs = 2000L, func = func)))
      assert(rollupStore.readTimeSeries(q) === rawStore.readTimeSeries(q), s"func: $func")
    }
    // rate values derive from the first/last partials: fixture handler=query
    // buckets are [13,14], [14,14], [15] -> (last-first)/Δt; +100-shifted
    // second batch lands +500 ms into the same buckets
    val rated = rollupStore.readTimeSeries(Query(T0, T0 + 4999,
      Seq(eqMatch("handler", "query")), Some(ReadHints(2000L, "rate"))))
    assert(rated.head.samples.forall(_.value > 0), "counter fixture rates are positive")
    // the rollup-served plan reads samples_rollup/, not samples/ — for the
    // algebraic funcs AND the first/last-derived ones
    for (func <- Seq("max", "rate", "last_over_time", "quantile:0.9")) {
      val hintedDf = rollupStore.readSeries(Query(T0, T0 + 4999,
        Seq(eqMatch("handler", "query")), Some(ReadHints(2000L, func))))
      val p = hintedDf.queryExecution.executedPlan.toString
      assert(p.contains("samples_rollup"), s"$func: hinted read should scan the rollup table")
      assert(!p.contains(s"$dir/samples]"), s"$func: hinted read must not scan raw samples")
    }
    // un-answerable step (not a multiple of the rollup granularity) falls
    // back to the raw path, still correct
    val odd = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
      Some(ReadHints(stepMs = 1500L, func = "max")))
    assert(rollupStore.readTimeSeries(odd) === rawStore.readTimeSeries(odd))
    // compaction merges partial rollup rows; served results unchanged
    val before = rollupStore.readTimeSeries(Query(T0, T0 + 4999,
      Seq(eqMatch("handler", "query")), Some(ReadHints(2000L, "avg"))))
    graft.tools.Compact.run(spark, dir)
    rollupStore.invalidateIndex()
    val rollup = spark.read.parquet(s"$dir/samples_rollup")
    assert(rollup.count() ===
      rollup.select("fingerprint", "bucket_ms").distinct().count(), "partials merged")
    assert(rollupStore.readTimeSeries(Query(T0, T0 + 4999,
      Seq(eqMatch("handler", "query")), Some(ReadHints(2000L, "avg")))) === before)
  }

  test("parquet: a hinted rawsql read answers from its SQL on a rollup store too") {
    def store(rollupStepMs: Long) = {
      val s = new ParquetStore(spark, java.nio.file.Files.createTempDirectory("graft_rawsql_").toString,
        rollupStepMs = rollupStepMs)
      s.write(batchDF(fixture))
      s
    }
    val (rollupStore, plainStore) = (store(1000L), store(0L))
    val sql = "SELECT k, value FROM VALUES ('a', 1.5D), ('b', 2.5D) AS t(k, value)"
    // the wire-safe hints sanitizeWireHints keeps, at a step the rollup answers
    for (func <- Seq("avg_over_time", "sum_over_time", "min_over_time", "max_over_time",
        "count_over_time", "last_over_time")) {
      val q = Query(Start, End, Seq(eqMatch("job", "rawsql"), eqMatch("query", sql)),
        Some(ReadHints(stepMs = 2000L, func = func)))
      assert(Storage.sanitizeWireHints(q) === q)
      val got = rollupStore.readTimeSeries(q)
      assert(got.map(_.labels).toSet === Set(Seq(Label("k", "a")), Seq(Label("k", "b"))), func)
      assert(got === plainStore.readTimeSeries(q), func)
    }
  }

  test("parquet: pre-migration rollup serves algebraic hints only; Compact backfills first/last from raw") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollupmig_").toString
    val store = new ParquetStore(spark, dir, rollupStepMs = 1000L)
    store.write(batchDF(fixture))
    // simulate a table written before the rollup schema grew the first/last
    // partials: strip those columns in place
    val rollupPath = s"$dir/samples_rollup"
    val oldSchema = spark.read.parquet(rollupPath)
      .drop("first_ts", "first_v", "last_ts", "last_v", "hist", "sum_sq")
      .localCheckpoint(eager = true)
    oldSchema.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("date").parquet(rollupPath)
    store.invalidateIndex()

    val rawStore = new ParquetStore(spark, dir) // no rollup: raw-path truth
    val avgQ = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
      Some(ReadHints(2000L, "avg")))
    val rateQ = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
      Some(ReadHints(2000L, "rate")))
    // algebraic funcs still serve from the old-schema rollup (padded nulls,
    // never consulted)...
    assert(store.readTimeSeries(avgQ) === rawStore.readTimeSeries(avgQ))
    assert(store.readSeries(avgQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "algebraic hint should still use the old rollup")
    // ...while first/last-derived funcs fall back to raw serving — correct
    // values, no AnalysisException, no null-valued samples
    assert(store.readTimeSeries(rateQ) === rawStore.readTimeSeries(rateQ))
    assert(!store.readSeries(rateQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "pre-migration rollup must not serve rate")
    // quantile is gated the same way: sketchless rollup falls back to raw
    val qQ = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
      Some(ReadHints(2000L, "quantile:0.9")))
    assert(store.readTimeSeries(qQ) === rawStore.readTimeSeries(qQ))
    assert(!store.readSeries(qQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "pre-migration rollup must not serve quantile")
    // stddev is gated on the sum_sq partial the same way
    val sdQ = Query(T0, T0 + 4999, Seq(eqMatch("handler", "query")),
      Some(ReadHints(2000L, "stddev_over_time")))
    assert(store.readTimeSeries(sdQ) === rawStore.readTimeSeries(sdQ))
    assert(!store.readSeries(sdQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "pre-migration rollup must not serve stddev")

    // a MIXED dir (new-schema partials appended onto old files) is equally
    // unservable for first/last — min/max(struct) would elect the null-field
    // structs; the null probe catches what the column check alone cannot
    store.write(batchDF(Seq(TimeSeries(
      Seq(Label("__name__", "mix_metric")),
      Seq(Sample(T0, 1d), Sample(T0 + 500, 3d))))))
    store.invalidateIndex() // external-style reset: force a fresh probe
    assert(store.readTimeSeries(rateQ) === rawStore.readTimeSeries(rateQ))
    assert(!store.readSeries(rateQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "mixed-schema rollup must not serve rate")

    // Compact's migration rebuilds the rollup from raw samples (step
    // inferred from the bucket keys); first/last serving re-enables
    graft.tools.Compact.run(spark, dir)
    store.invalidateIndex()
    val migrated = spark.read.parquet(rollupPath)
    assert(Seq("first_ts", "first_v", "last_ts", "last_v")
      .forall(migrated.columns.contains), "backfill restores the partials")
    assert(migrated.where(org.apache.spark.sql.functions.col("first_ts").isNull).isEmpty,
      "no null first/last rows survive migration")
    assert(store.readTimeSeries(rateQ) === rawStore.readTimeSeries(rateQ))
    assert(store.readSeries(rateQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "migrated rollup serves rate again")
    // the rebuilt rollup carries the sketch partials too
    assert(store.readTimeSeries(qQ) === rawStore.readTimeSeries(qQ))
    assert(store.readSeries(qQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "migrated rollup serves quantile again")
    // ...and the sum-of-squares partial: stddev serves and matches raw
    assert(store.readTimeSeries(sdQ) === rawStore.readTimeSeries(sdQ))
    assert(store.readSeries(sdQ).queryExecution.executedPlan.toString
      .contains("samples_rollup"), "migrated rollup serves stddev again")
  }

  test("parquet: hinted rollup read keeps read()'s broadcast tier above the inline limit") {
    // 60 matched series > MaxSeriesInline(50) but ≤ BroadcastSeriesLimit:
    // the rollup path filters by the set and attaches labels by read()'s
    // broadcast join — a shuffled join here would shuffle the rollup on
    // every mid-size matched set
    val dir = java.nio.file.Files.createTempDirectory("graft_rolluptier_").toString
    val store = new ParquetStore(spark, dir, rollupStepMs = 1000L)
    val many = (0 until 60).map(i => TimeSeries(
      Seq(Label("__name__", "tier_metric"), Label("i", i.toString)),
      Seq(Sample(T0, i.toDouble), Sample(T0 + 500, i + 5d))))
    store.write(batchDF(many))
    val df = store.readSeries(Query(T0, T0 + 999, Seq(eqMatch("__name__", "tier_metric")),
      Some(ReadHints(1000L, "rate"))))
    val got = df.collect()
    assert(got.length === 60)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("samples_rollup"), "served from the rollup")
    assert(!p.contains(s"$dir/samples]"), "raw samples absent from the hinted plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "matched-set pruning above the inline limit must broadcast, not shuffle the rollup")
    // bucket-local rate: (last-first)/Δt = 5 / 0.5 s = 10 for every series
    assert(got.forall(_.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("samples")
      .forall(_.getDouble(1) === 10.0)))
  }

  test("parquet: fingerprint-bucketed layout partition-prunes point queries, same results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
    val store = new ParquetStore(spark, dir, fingerprintBuckets = 8)
    store.write(batchDF(fixture))
    val q = Query(Start, End, Seq(eqMatch("handler", "query")))
    val got = store.readTimeSeries(q)
    assert(got.size === 1 && got.head.samples.size === 5)
    // the bucket set derived from the matched fingerprints reaches the scan
    // as a PARTITION filter (directory-level pruning)
    val df = store.read(q)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bucket#"),
      "bucket pruning should appear in PartitionFilters")
    // survives compaction (bucket-aware rewrite), results unchanged
    graft.tools.Compact.run(spark, dir)
    store.invalidateIndex()
    assert(store.readTimeSeries(q) === got)
    assert(new java.io.File(s"$dir/samples").listFiles()
      .filter(_.getName.startsWith("date=")).forall(d =>
        d.listFiles().exists(_.getName.startsWith("bucket="))), "bucket dirs kept")
  }

  test("parquet: another writer's series appear within one index TTL (multi-writer discovery)") {
    // the reference's shared-table refresh loop is its cluster-discovery
    // mechanism (clickhouse.go:146-204, README.md:58-61); here: two stores
    // on one root, reader discovers the other writer's series after TTL
    val dir = java.nio.file.Files.createTempDirectory("graft_multiwriter_").toString
    val reader = new ParquetStore(spark, dir, indexTtlMs = 150L)
    val writerB = new ParquetStore(spark, dir)
    reader.write(batchDF(fixture))
    assert(reader.readTimeSeries(Query(0L, Long.MaxValue, Seq.empty)).size === 3)
    writerB.write(batchDF(Seq(TimeSeries(
      Seq(Label("__name__", "other_writer_metric")), Seq(Sample(T0, 9d))))))
    Thread.sleep(200) // wait out the reader's TTL
    assert(reader.readTimeSeries(
      Query(0L, Long.MaxValue, Seq(eqMatch("__name__", "other_writer_metric")))).size === 1)
  }

  test("series output order follows UNSIGNED fingerprint order (O3)") {
    // the reference sorts by name then uint64 fingerprint
    // (timeseries.go:32-56); fingerprints exceed Long.MaxValue, so a signed
    // sort would order them wrongly. Find label sets on both sides of the
    // sign boundary and check the read-out order.
    import graft.core.Fingerprint
    def labelsFor(i: Int) = Seq(Label("__name__", "m"), Label("i", i.toString))
    val neg = (0 until 1000).find(i => Fingerprint.of(labelsFor(i)) < 0).get
    val pos = (0 until 1000).find(i => Fingerprint.of(labelsFor(i)) > 0).get
    val store = new MemoryStore(spark)
    store.write(batchDF(Seq(
      TimeSeries(labelsFor(neg), Seq(Sample(T0, 1d))),
      TimeSeries(labelsFor(pos), Seq(Sample(T0, 2d))))))
    val out = store.readTimeSeries(Query(0L, Long.MaxValue, Seq.empty))
    val fps = out.map(ts => Fingerprint.of(ts.labels))
    // unsigned order: positive (high bit clear) sorts before negative
    assert(fps === fps.sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0))
  }

  test("regex anchoring is RE2 end-of-input: trailing newline does not match (X8)") {
    // Go RE2's `$` in `^(?:v)$` is end-of-text; Java's `$` also matches
    // before a final `\n`. The compiler anchors with `\A(?:v)\z` so both
    // engine paths follow RE2 here.
    import graft.core.MatcherCompiler
    assert(!MatcherCompiler.matches(Map("l" -> "foo\n"), Seq(reMatch("l", "foo"))))
    assert(MatcherCompiler.matches(Map("l" -> "foo"), Seq(reMatch("l", "foo"))))
    assert(MatcherCompiler.matches(Map("l" -> "foo\n"), Seq(reMatch("l", "foo\\n"))))
    assert(MatcherCompiler.matches(Map("l" -> "foo\n"), Seq(nreMatch("l", "foo"))))
    // same through the full store read path (Catalyst rlike)
    for ((storeName, store) <- makeStores()) {
      store.write(batchDF(Seq(TimeSeries(
        Seq(Label("__name__", "nl_metric"), Label("l", "foo\n")),
        Seq(Sample(T0, 1d))))))
      assert(store.readTimeSeries(Query(0L, Long.MaxValue, Seq(reMatch("l", "foo")))).isEmpty,
        s"$storeName: trailing-newline value must not match an anchored regex")
      assert(store.readTimeSeries(Query(0L, Long.MaxValue, Seq(reMatch("l", "foo\\n")))).size === 1,
        s"$storeName: explicit \\n in the pattern still matches")
    }
  }

  test("Java-only regex constructs are rejected at matcher compile (X8)") {
    // RE2 refuses these at compile time (reference: base.go:101-103);
    // accepting them under Java semantics would silently diverge.
    import graft.core.MatcherCompiler
    val rejected = Seq(
      "(a)\\1",      // backreference
      "\\k<g>",      // named backreference
      "(?=a)b",      // lookahead
      "(?!a)b",      // negative lookahead
      "x(?<=a)",     // lookbehind
      "x(?<!a)",     // negative lookbehind
      "(?>ab)c",     // atomic group
      "a*+b",        // possessive quantifiers
      "a++b",
      "a{2,3}+b",
      "a\\Zb",       // Java-only anchors
      "a\\Gb",
      "(?P<n>a)(?P=n)", // Python-style backreference — invalid in RE2 too
      "(?P<>x)",     // malformed named group (empty name)
      "(?P<a-b>x)")  // malformed named group (RE2 names are [A-Za-z0-9_]+)
    for (p <- rejected)
      intercept[IllegalArgumentException] {
        MatcherCompiler.matches(Map("l" -> "x"), Seq(reMatch("l", p)))
      }
    // common-subset constructs still compile and run
    val accepted = Seq("(?i)FOO", "[a*+]?", "(a+)+", "a\\\\1", "\\Afoo\\z", "\\bword\\b", "[^]a]")
    for (p <- accepted)
      MatcherCompiler.matches(Map("l" -> "x"), Seq(reMatch("l", p))) // must not throw
    // RE2 named groups `(?P<name>…)` (underscores legal in RE2, not in
    // Java's `(?<name>`) are rewritten to plain groups and MATCH — the
    // round-3 residual that used to error
    assert(MatcherCompiler.matches(Map("l" -> "prod"), Seq(reMatch("l", "(?P<env_name>prod|dev)"))))
    assert(!MatcherCompiler.matches(Map("l" -> "stage"), Seq(reMatch("l", "(?P<env_name>prod|dev)"))))
    assert(MatcherCompiler.matches(Map("l" -> "ab"), Seq(reMatch("l", "(?P<x>a)(?P<y>b)"))))
    assert(MatcherCompiler.matches(Map("l" -> "(?P<x"), Seq(reMatch("l", "[(?P<x]+")))) // class-literal, untouched
    // same rewrite through the Catalyst rlike path
    for ((storeName, store) <- makeStores()) {
      store.write(batchDF(Seq(TimeSeries(
        Seq(Label("__name__", "named_metric"), Label("env", "prod")),
        Seq(Sample(T0, 1d))))))
      assert(store.readTimeSeries(Query(0L, Long.MaxValue,
        Seq(reMatch("env", "(?P<env_name>prod|dev)")))).size === 1,
        s"$storeName: RE2 named group must match through the store read path")
    }
  }

  test("inner ^/$, `.`, and case folding follow RE2 semantics (X8 dialect bridge)") {
    import graft.core.MatcherCompiler
    // Non-multiline `$` is end-of-text (RE2), not before-final-newline
    // (Java): `(?s)foo$.*` would match "foo\n" under raw Java semantics.
    assert(!MatcherCompiler.matches(Map("l" -> "foo\n"), Seq(reMatch("l", "(?s)foo$.*"))))
    assert(MatcherCompiler.matches(Map("l" -> "foo"), Seq(reMatch("l", "(?s)foo$.*"))))
    // Multiline `$` breaks on \n only (RE2/UNIX_LINES), not on \r (raw Java).
    assert(MatcherCompiler.matches(Map("l" -> "foo\nbar"), Seq(reMatch("l", "(?m)foo$(?s).*"))))
    assert(!MatcherCompiler.matches(Map("l" -> "foo\rbar"), Seq(reMatch("l", "(?m)foo$(?s).*"))))
    // A `(?m:...)` scope ends at its group: the second `$` is end-of-text
    // again, so a trailing newline must not satisfy it.
    assert(MatcherCompiler.matches(Map("l" -> "a\nb"), Seq(reMatch("l", "(?s)(?m:a$.)b$"))))
    assert(!MatcherCompiler.matches(Map("l" -> "a\nb\n"), Seq(reMatch("l", "(?s)(?m:a$.)b$"))))
    // `.` excludes only \n (RE2): \r and NEL are ordinary characters.
    assert(MatcherCompiler.matches(Map("l" -> "a\rb"), Seq(reMatch("l", "a.b"))))
    assert(MatcherCompiler.matches(Map("l" -> "ab"), Seq(reMatch("l", "a.b"))))
    assert(!MatcherCompiler.matches(Map("l" -> "a\nb"), Seq(reMatch("l", "a.b"))))
    // `(?i)` folds Unicode-wide (RE2 simple folding), not ASCII-only.
    assert(MatcherCompiler.matches(Map("l" -> "Σ"), Seq(reMatch("l", "(?i)σ"))))
    assert(MatcherCompiler.matches(Map("l" -> "ÄPFEL"), Seq(reMatch("l", "(?i)äpfel"))))
    // Class and escape contexts are untouched by the `$` rewrite.
    assert(MatcherCompiler.matches(Map("l" -> "$"), Seq(reMatch("l", "[$]"))))
    assert(MatcherCompiler.matches(Map("l" -> "$"), Seq(reMatch("l", "\\$"))))
    // Direct rewrite goldens.
    assert(MatcherCompiler.toJavaDialect("foo$") === "foo\\z")
    assert(MatcherCompiler.toJavaDialect("(?m)a$") === "(?m)a$")
    assert(MatcherCompiler.toJavaDialect("(?m:a$)b$") === "(?m:a$)b\\z")
    assert(MatcherCompiler.toJavaDialect("(a$)") === "(a\\z)")
    assert(MatcherCompiler.toJavaDialect("(?i)x") === "(?iu)x")
    assert(MatcherCompiler.toJavaDialect("(?-i:x)$") === "(?-iu:x)\\z")
    assert(MatcherCompiler.toJavaDialect("[$]") === "[$]")
  }

  /** Runs `f` and counts the Spark jobs it submits. Suites share one
    * SparkContext and run in parallel, so jobs are attributed by a local
    * property set on this thread (jobs started for it elsewhere, such as
    * broadcasts, inherit it); a marker job then drains the listener bus,
    * which delivers job starts in order. */
  def jobsOf[T](f: => T): (T, Int) = {
    val (out, jobs, _) = workOf(f)
    (out, jobs)
  }

  /** [[jobsOf]], plus the number of stages those jobs have. */
  def workOf[T](f: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.job_tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { t =>
          if (t == tag) { jobs.incrementAndGet(); stages.addAndGet(e.stageIds.size) }
          else if (t == s"$tag/marker") drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try f finally {
        sc.setLocalProperty(key, s"$tag/marker")
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty(key, null)
      }
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get(), stages.get())
    } finally sc.removeSparkListener(listener)
  }

  test("parquet: driver series index: no probe job, local writes seen") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    val store = new ParquetStore(spark, dir) // default TTL
    store.write(batchDF(fixture))
    val q = Query(Start, End, Seq(eqMatch("code", "200")))
    assert(store.readTimeSeries(q).size === 2)
    // matchers are answered on the driver: building a read submits no job,
    // whatever the matcher shape; its scan is the first job
    for (ms <- Seq(q.matchers, Seq(reMatch("handler", "query.*")), Seq(neqMatch("code", "200")),
        Seq(eqMatch("no_such_label", "")), Seq.empty)) {
      val (df, probeJobs) = jobsOf(store.read(Query(Start, End, ms)))
      assert(probeJobs === 0, s"matchers: $ms")
      assert(df.count() === store.readTimeSeries(Query(Start, End, ms)).map(_.samples.size).sum)
    }
    // a local write's new series is in the index at once — the very next
    // read sees it, with no listing or load job
    store.write(batchDF(Seq(TimeSeries(Seq(Label("__name__", "fresh_metric")), Seq(Sample(T0, 1d))))))
    val fresh = Query(0L, Long.MaxValue, Seq(eqMatch("__name__", "fresh_metric")))
    val (freshDf, freshProbe) = jobsOf(store.read(fresh))
    assert(freshProbe === 0)
    assert(freshDf.count() === 1)

    // another writer's series: a store inside its TTL does not see them
    // until invalidateIndex(); indexTtlMs = 0 re-lists on every read
    val other = Query(0L, Long.MaxValue, Seq(eqMatch("__name__", "other_metric")))
    val longTtl = new ParquetStore(spark, dir, indexTtlMs = 600000L)
    val relisting = new ParquetStore(spark, dir, indexTtlMs = 0L)
    assert(longTtl.readTimeSeries(other).isEmpty && relisting.readTimeSeries(other).isEmpty)
    new ParquetStore(spark, dir).write(batchDF(Seq(TimeSeries(
      Seq(Label("__name__", "other_metric")), Seq(Sample(T0, 2d))))))
    assert(relisting.readTimeSeries(other).size === 1, "TTL 0: the next read re-lists")
    assert(longTtl.readTimeSeries(other).isEmpty, "inside the TTL: no re-listing")
    longTtl.invalidateIndex()
    assert(longTtl.readTimeSeries(other).size === 1)

    // Compact rewrites the dictionary files: after invalidateIndex() the
    // answers are unchanged, and a re-listing store reloads on its own
    // because the files it knew have vanished
    val queries = (cases.map(_._2) ++ Seq(fresh.matchers, other.matchers))
      .map(ms => Query(0L, Long.MaxValue, ms))
    // taken from the TTL-0 store: `store` may or may not have re-listed
    // since the other writer's append, depending on how long this ran
    val before = queries.map(relisting.readTimeSeries)
    assert(before.last.size === 1)
    graft.tools.Compact.run(spark, dir)
    store.invalidateIndex()
    assert(queries.map(store.readTimeSeries) === before)
    assert(queries.map(relisting.readTimeSeries) === before)
  }

  test("parquet: reads that select no series submit no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nomatch_").toString
    new ParquetStore(spark, dir).write(batchDF(fixture))
    val none = Query(Start, End, Seq(eqMatch("__name__", "no_such_metric")))
    val noneRe = Query(Start, End, Seq(reMatch("code", "5..")))
    // AQE alone also ends a plan over an empty RDD without a job; with AQE
    // off only a plan the optimizer folds (an empty local relation) runs none
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    for (session <- Seq(spark, static)) {
      val mode = s"adaptive=${session.conf.get("spark.sql.adaptive.enabled")}"
      val store = new ParquetStore(session, dir)
      assert(store.readTimeSeries(Query(Start, End, Seq.empty)).size === 3) // loads the index
      val (one, oneJobs) = jobsOf(store.readTimeSeries(none))
      assert(one.isEmpty && oneJobs === 0, mode)
      val (batch, batchJobs) = jobsOf(store.readAll(Seq(none, noneRe)))
      assert(batch === Seq(Seq.empty, Seq.empty) && batchJobs === 0, mode)
      // an empty slot beside a matching one still answers positionally
      assert(store.readAll(Seq(none, Query(Start, End, Seq(eqMatch("code", "400")))))
        .map(_.size) === Seq(0, 1), mode)
      val (blackhole, blackholeJobs) =
        jobsOf(new graft.storage.BlackholeStore(session).readTimeSeries(none))
      assert(blackhole.isEmpty && blackholeJobs === 0, mode)
    }
  }

  test("parquet: a matcher read or batch runs one Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_onejob_").toString
    new ParquetStore(spark, dir).write(batchDF(fixture))
    val single = Query(Start, End, Seq(eqMatch("handler", "query")))
    val batch = Seq(single, Query(Start, End, Seq(eqMatch("code", "400"))),
      Query(T0 + 1000, T0 + 3000, Seq(eqMatch("code", "200"))))
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    for (session <- Seq(spark, static)) {
      val mode = s"adaptive=${session.conf.get("spark.sql.adaptive.enabled")}"
      val store = new ParquetStore(session, dir)
      assert(store.readTimeSeries(Query(Start, End, Seq.empty)).size === 3) // loads the index
      // the scan is collected as is: no label join, no grouping shuffle
      val (one, oneJobs) = jobsOf(store.readAll(Seq(single)))
      assert(one.map(_.map(_.samples.size)) === Seq(Seq(5)) && oneJobs === 1, mode)
      val (many, manyJobs) = jobsOf(store.readAll(batch))
      assert(many.map(_.size) === Seq(1, 1, 2) && manyJobs === 1, mode)
      assert(many.head === one.head, mode)
      val (typed, typedJobs) = jobsOf(store.readTimeSeries(single))
      assert(typed === one.head && typedJobs === 1, mode)
      // read() looks a tier-1 set's labels up in the plan: no broadcast job
      val (flat, flatJobs) = jobsOf(store.read(single).collect())
      assert(flat.length === 5 && flatJobs === 1, mode)
    }
  }

  /** The final physical plans of the queries `f` runs on `session`, with
    * the number of Spark jobs `f` submitted and of their stages
    * ([[workOf]]'s marker job also delivers the session's query-execution
    * events; one run first drains the events of earlier queries). */
  def plansOf[T](session: SparkSession)(f: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan], Int, Int) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    jobsOf(())
    session.listenerManager.register(listener)
    try {
      val (out, jobs, stages) = workOf(f)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(plans).asScala.toSeq, jobs, stages)
    } finally session.listenerManager.unregister(listener)
  }

  /** Walks AQE plans and their query stages. */
  private object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("parquet: a batch's bounded-set slots share one scan: no join, no exchange, one generated class") {
    import graft.core.Fingerprint
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = java.nio.file.Files.createTempDirectory("graft_onescan_").toString
    // 60 series, above the inline limit (50)
    val series = (0 until 60).map(i => Seq(Label("__name__", "scan_metric"), Label("i", i.toString)))
    new ParquetStore(spark, dir).write(batchDF(series.map(ls =>
      TimeSeries(ls, Seq(Sample(T0, 1d), Sample(T0 + 1000, 2d))))))
    // one series on each of the next two days
    val day = 86400000L
    new ParquetStore(spark, dir).write(batchDF(Seq(
      TimeSeries(series.head, Seq(Sample(T0 + day, 3d), Sample(T0 + 2 * day, 4d))))))
    def files(t: Long) = new java.io.File(s"$dir/samples/date=${java.time.Instant.ofEpochMilli(t)
      .toString.take(10)}").listFiles().count(_.getName.endsWith(".parquet"))
    val metric = Query(T0, T0 + 1000, Seq(eqMatch("__name__", "scan_metric")))
    val batch = Seq(Query(T0, T0, Seq(eqMatch("i", "7"))), metric,
      Query(T0 + 1000, T0 + 1000, Seq(reMatch("i", "1[0-9]|2[0-9]"))))
    // a second set with the first one's [min, max] (pushed as literals, as
    // the time range is) and one fingerprint fewer in between
    val byFp = series.sortBy(Fingerprint.of)
    val fewer = Query(T0, T0 + 1000, Seq(eqMatch("__name__", "scan_metric"),
      neqMatch("i", byFp(30).find(_.name == "i").get.value)))
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    for (session <- Seq(spark.newSession(), static)) {
      val mode = s"adaptive=${session.conf.get("spark.sql.adaptive.enabled")}"
      val store = new ParquetStore(session, dir)
      assert(store.readTimeSeries(metric).size === 60) // loads the index
      val (one, onePlans, _, _) = plansOf(session)(store.readAll(Seq(metric)))
      assert(one.head.size === 60 && onePlans.size === 1, mode)
      assert(nodesOf(onePlans) { case b: BroadcastExchangeLike => b }.isEmpty, s"$mode: ${onePlans.head}")
      assert(nodesOf(onePlans) { case j: BaseJoinExec => j }.isEmpty, s"$mode: ${onePlans.head}")
      assert(onePlans.head.toString.contains("fingerprint_in"), s"$mode: ${onePlans.head}")

      val (many, manyPlans, manyJobs, _) = plansOf(session)(store.readAll(batch))
      assert(many.map(_.size) === Seq(1, 60, 20) && manyJobs === 1, mode)
      assert(many === batch.map(store.readTimeSeries), mode)
      assert(nodesOf(manyPlans) { case s: FileSourceScanExec => s }.size === 1, s"$mode: $manyPlans")
      assert(nodesOf(manyPlans) { case u: UnionExec => u }.isEmpty, s"$mode: $manyPlans")
      // slots days apart read their own days' files, not the day between
      val (apart, apartPlans, _, _) = plansOf(session)(store.readAll(Seq(metric,
        Query(T0 + 2 * day, T0 + 2 * day, metric.matchers))))
      assert(apart.map(_.map(_.samples.size).sum) === Seq(120, 1), mode)
      assert(nodesOf(apartPlans) { case s: FileSourceScanExec => s.metrics("numFiles").value }
        === Seq(files(T0) + files(T0 + 2 * day)), s"$mode: $apartPlans")

      // a different set, same time range and shape: its generated code is
      // the first set's, so no whole-stage compile
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(store.readTimeSeries(fewer).size === 59, mode)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles, mode)
    }
  }

  /** `readSeries` rows decoded into the wire answer the way the read path
    * did while it grouped in the engine: labels name-sorted, series in
    * (metric name, unsigned fingerprint) order. */
  private def decodeSeries(df: DataFrame): Seq[TimeSeries] =
    df.collect().toSeq.map { r =>
      val labels = graft.core.LabelsJson.unmarshal(r.getAs[String]("labels")).toSeq
        .map { case (n, v) => Label(n, v) }.sortBy(_.name)
      TimeSeries(labels, r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("samples")
        .map(s => Sample(s.getLong(0), s.getDouble(1))).toSeq)
    }.sortBy(ts => (ts.labels.find(_.name == "__name__").map(_.value).getOrElse(""),
      graft.core.Fingerprint.of(ts.labels) ^ Long.MinValue))

  /** An answer with values as bits, so NaN samples compare equal. */
  private def bits(answer: Seq[Seq[TimeSeries]]): Seq[Seq[(Seq[Label], Seq[(Long, Long)])]] =
    answer.map(_.map(ts => (ts.labels,
      ts.samples.map(s => (s.timestampMs, java.lang.Double.doubleToLongBits(s.value))))))

  test("driver-side assembly answers as the engine's grouping did (dups, NaN, late, unsigned, empty, bulk)") {
    import graft.core.Fingerprint
    val nan = Double.NaN
    // four series on each side of Long.MaxValue in unsigned order
    val pool = (0 until 256).map(i => Seq(Label("__name__", "asm_metric"), Label("i", i.toString)))
    val labelSets = pool.filter(Fingerprint.of(_) < 0).take(4) ++ pool.filter(Fingerprint.of(_) >= 0).take(4)
    val fps = labelSets.map(Fingerprint.of)
    assert(fps.count(_ < 0) === 4 && fps.count(_ >= 0) === 4)
    def i(k: Int): String = labelSets(k)(1).value
    // the second write is older than the first and repeats a timestamp with
    // another value; NaN and a duplicated timestamp in the first
    val first = labelSets.zipWithIndex.map { case (ls, i) => TimeSeries(ls,
      Seq(Sample(T0 + 2000, i.toDouble), Sample(T0 + 1000, nan), Sample(T0 + 1000, 2d))) }
    val second = labelSets.map(ls => TimeSeries(ls, Seq(Sample(T0 + 1000, -1d), Sample(T0, 1d))))
    val dir = java.nio.file.Files.createTempDirectory("graft_assemble_").toString
    val memory = new MemoryStore(spark)
    for (s <- Seq(new ParquetStore(spark, dir), memory); b <- Seq(first, second)) s.write(batchDF(b))

    val within = (T0, T0 + 5000)
    val point = Query(within._1, within._2, Seq(eqMatch("i", i(3))))
    val qs = Seq(
      point,
      Query(within._1, within._2, Seq(eqMatch("__name__", "asm_metric"))),
      Query(within._1, within._2, Seq(eqMatch("__name__", "no_such_metric"))), // empty slot
      Query(within._1, within._2, Seq.empty), // bulk slot
      Query(within._1, within._2, Seq(reMatch("i", (0 to 3).map(i).mkString("|"))), Some(ReadHints(2000L, "max_over_time"))),
      Query(0L, T0, Seq(eqMatch("job", "rawsql"), eqMatch("query",
        "SELECT k, value FROM VALUES ('b', double('NaN')), ('a', 2.0D), ('a', 1.0D) AS t(k, value)"))),
      // the shared scan's rows go to every slot whose series and range
      // hold them: a range that partly overlaps slot 1's on the same
      // series, slot 0 again, and an empty range
      Query(T0 - 1000, T0 + 1000, Seq(eqMatch("__name__", "asm_metric"))),
      point,
      Query(T0 + 2000, T0 + 1000, Seq(eqMatch("__name__", "asm_metric"))))
    // sets above one fingerprint are binary-searched instead of IN-listed
    val searched = spark.newSession()
    searched.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1")
    val stores = Seq(
      "memory" -> memory,
      "parquet" -> new ParquetStore(spark, dir),
      "parquet, fingerprint_in tier" -> new ParquetStore(searched, dir),
      "parquet, broadcast tier" -> new ParquetStore(spark, dir, maxSeriesInline = 1),
      // slots 0 and 7 share a scan; the multi-series slots are above the limit
      "parquet, join tier" -> new ParquetStore(spark, dir, maxSeriesInline = 1, broadcastSeriesLimit = 1L))
    for ((name, store) <- stores) {
      val batched = store.readAll(qs)
      assert(bits(batched) === bits(qs.map(store.readTimeSeries)), name)
      assert(bits(batched) === bits(qs.map(q => decodeSeries(store.readSeries(q)))), name)
      // samples by (timestamp_ms, value), NaN last, duplicates kept
      assert(bits(Seq(batched.head)) === bits(Seq(Seq(TimeSeries(labelSets(3).sortBy(_.name), Seq(
        Sample(T0, 1d), Sample(T0 + 1000, -1d), Sample(T0 + 1000, 2d), Sample(T0 + 1000, nan),
        Sample(T0 + 2000, 3d)))))), name)
      // series by unsigned fingerprint
      assert(batched(1).map(ts => Fingerprint.of(ts.labels)) ===
        fps.sortWith(java.lang.Long.compareUnsigned(_, _) < 0), name)
      assert(batched(2).isEmpty && batched(3).size === 8, name)
      // per-bucket max; NaN is the largest value
      assert(batched(4).size === 4 && bits(Seq(batched(4))) === bits(Seq(batched(4).map(ts =>
        TimeSeries(ts.labels, Seq(Sample(T0, nan), Sample(T0 + 2000, fps.indexOf(Fingerprint.of(ts.labels)).toDouble)))))), name)
      assert(bits(Seq(batched(5))) === bits(Seq(Seq(
        TimeSeries(Seq(Label("k", "a")), Seq(Sample(T0, 1d), Sample(T0, 2d))),
        TimeSeries(Seq(Label("k", "b")), Seq(Sample(T0, nan)))).sortBy(ts =>
          Fingerprint.of(ts.labels) ^ Long.MinValue))), name)
      assert(bits(Seq(batched(6))) === bits(Seq(batched(1).map(ts =>
        TimeSeries(ts.labels, ts.samples.filter(_.timestampMs <= T0 + 1000))))), name)
      assert(bits(Seq(batched(7))) === bits(Seq(batched(0))) && batched(8).isEmpty, name)
    }

    // a series another writer added after the last listing is in the scan
    // of an empty-matcher read but not in the index: its rows are dropped,
    // as the inner label join drops them
    val stale = new ParquetStore(spark, dir, indexTtlMs = 600000L)
    assert(stale.readAll(Seq(qs(3))).head.size === 8)
    new ParquetStore(spark, dir).write(batchDF(Seq(TimeSeries(
      Seq(Label("__name__", "asm_unlisted")), Seq(Sample(T0, 7d))))))
    val staleBulk = stale.readAll(Seq(qs(3)))
    assert(staleBulk.head.size === 8)
    assert(bits(staleBulk) === bits(Seq(decodeSeries(stale.readSeries(qs(3))))))
    stale.invalidateIndex()
    assert(stale.readAll(Seq(qs(3))).head.size === 9)
  }

  test("driver and Catalyst matcher predicates agree (corpus + X8 cases)") {
    import graft.core.{Fingerprint, LabelsJson, MatcherCompiler}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val labelSets: Seq[Map[String, String]] =
      fixture.map(_.labels.map(l => l.name -> l.value).toMap) ++ Seq(
        "foo\n", "foo", "foo\nbar", "foo\rbar", "a\nb", "a\nb\n", "a\rb", "ab", "\u03a3",
        "\u00c4PFEL", "$", "prod", "stage", "x", "(?P<x").map(v => Map("__name__" -> "m", "l" -> v)) ++
      Seq(Map("__name__" -> "m"), Map("__name__" -> "m", "other" -> "foo"))
    assert(labelSets.map(Fingerprint.of).distinct.size === labelSets.size)
    val patterns = Seq("foo", "foo\\n", "(?s)foo$.*", "(?m)foo$(?s).*", "(?s)(?m:a$.)b$", "a.b",
      "(?i)\u03c3", "(?i)\u00e4pfel", "[$]", "\\$", "(?P<env_name>prod|dev)", "[(?P<x]+", "", ".*", ".+",
      "foo|", "(?i)FOO", "[^]a]")
    val matcherSets: Seq[Seq[Matcher]] = cases.map(_._2) ++
      patterns.flatMap(p => Seq(Seq(reMatch("l", p)), Seq(nreMatch("l", p)))) ++
      Seq("", "foo", "x").flatMap(v => Seq(Seq(eqMatch("l", v)), Seq(neqMatch("l", v)))) ++
      Seq(Seq(reMatch("absent", "")), Seq(nreMatch("absent", "")), Seq(eqMatch("__name__", "m"), reMatch("l", "a.*")))
    val df = labelSets.zipWithIndex.toDF("labels_map", "i")
    val index = new graft.storage.LabelIndex
    index.add(labelSets.map(m => (Fingerprint.of(m), LabelsJson.canonical(m))))
    for (ms <- matcherSets) {
      val catalyst = df.where(MatcherCompiler.compile(col("labels_map"), ms))
        .select("i").as[Int].collect().toSet
      val p = MatcherCompiler.predicate(ms)
      val driver = labelSets.indices.filter(i => p(labelSets(i))).toSet
      assert(driver === catalyst, s"matchers: $ms")
      // the index's per-value evaluation gives the same set
      assert(index.select(ms).map(_._1).toSet === driver.map(i => Fingerprint.of(labelSets(i))), s"index: $ms")
    }
  }

  /** The nodes `pf` picks out of final plans, AQE query stages included. */
  private def nodesOf[A](plans: Seq[org.apache.spark.sql.execution.SparkPlan])(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] =
    plans.flatMap(p => PlanNodes.collect(p)(pf))

  /** Whether two answers agree: the same series with the same timestamps,
    * and values equal (NaN to NaN) or apart by at most `tol(labels,
    * expected sample)`. */
  private def agree(got: Seq[Seq[TimeSeries]], want: Seq[Seq[TimeSeries]],
      tol: (Seq[Label], Sample) => Double = (_, _) => 0.0): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) =>
        a.labels == b.labels && a.samples.size == b.samples.size &&
          a.samples.zip(b.samples).forall { case (x, y) =>
            x.timestampMs == y.timestampMs && (x.value == y.value ||
              (x.value.isNaN && y.value.isNaN) || math.abs(x.value - y.value) <= tol(a.labels, y))
          }
      }
    }

  /** `readSeries` answers of a batch, one query at a time. */
  private def engineAnswers(store: Storage, qs: Seq[Query]): Seq[Seq[TimeSeries]] =
    qs.map(q => decodeSeries(store.readSeries(q)))

  /** Every func the engine derives step buckets for, two `_over_time`
    * spellings, and one it serves raw samples for. */
  private val hintFuncs: Seq[String] = Storage.RollupBases.toSeq.sorted ++
    Seq("quantile:0.9", "avg_over_time", "rate_over_time", "holt_winters")

  test("driver-side hint buckets equal the engine's for every func (NaN, duplicates, out of order)") {
    val step = 2000L
    val rnd = new scala.util.Random(11)
    // 16 series: the metric is a fingerprint_in set, one series an IN list
    val labelSets = (0 until 16).map(i => Seq(Label("__name__", "hint_metric"), Label("i", i.toString)))
    val raw: Map[Seq[Label], Seq[Sample]] = labelSets.map { ls =>
      ls -> ((0 until 40).map { _ =>
        // 500 ms slots: repeated timestamps, buckets of one instant
        Sample(T0 + rnd.nextInt(40) * 500L, if (rnd.nextInt(12) == 0) Double.NaN else 1 + rnd.nextDouble() * 99)
      } ++ Seq(
        // a constant bucket, whose E[x²] − E[x]² is below 0 in doubles
        Sample(T0 + 30000, 0.1), Sample(T0 + 30500, 0.1), Sample(T0 + 31000, 0.1),
        // one instant thrice: no time delta
        Sample(T0 + 40000, 7d), Sample(T0 + 40000, Double.NaN), Sample(T0 + 40000, 5d),
        Sample(T0 + 44000, 3d)))
    }.toMap
    // the later samples are written first
    val dir = java.nio.file.Files.createTempDirectory("graft_hintparity_").toString
    val writer = new ParquetStore(spark, dir)
    for (late <- Seq(true, false)) writer.write(batchDF(raw.toSeq.map { case (ls, ss) =>
      TimeSeries(ls, rnd.shuffle(ss.filter(s => (s.timestampMs >= T0 + 10000) == late))) }))
    // the largest square in a bucket: the scale of a variance's rounding
    def maxSq(ls: Seq[Label], bucket: Long): Double = raw(ls)
      .filter(s => s.timestampMs - Math.floorMod(s.timestampMs, step) == bucket)
      .map(s => s.value * s.value).filterNot(_.isNaN).maxOption.getOrElse(0d)
    def tol(func: String): (Seq[Label], Sample) => Double = func.stripSuffix("_over_time") match {
      case "count" => (_, _) => 0d
      // E[x²] − E[x]² is as close as E[x²] is, not relative to itself;
      // |a − b| ≤ sqrt(|a² − b²|) for a, b ≥ 0
      case "stdvar" => (ls, s) => 1e-12 * maxSq(ls, s.timestampMs)
      case "stddev" => (ls, s) => math.sqrt(1e-12 * maxSq(ls, s.timestampMs))
      case _ => (_, s) => 1e-12 * math.abs(s.value)
    }
    val store = new ParquetStore(spark, dir)
    val metric = Seq(eqMatch("__name__", "hint_metric"))
    // a raw read first: until the store has seen its data's density, a
    // hinted read keeps the engine's aggregate
    store.readAll(Seq(Query(T0, T0 + 50000, metric)))
    for (func <- hintFuncs) {
      val hint = Some(ReadHints(step, func))
      val qs = Seq(Query(T0, T0 + 50000, Seq(eqMatch("i", "3")), hint),
        Query(T0 - 1000, T0 + 45000, metric, hint), Query(T0 + 1000, T0 + 9000, metric, hint))
      val (batched, plans, _, _) = plansOf(spark)(store.readAll(qs))
      assert(nodesOf(plans) { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
        s"$func is bucketed on the driver: $plans")
      val want = engineAnswers(store, qs)
      assert(agree(batched, want, tol(func)), s"$func:\n$batched\n$want")
      assert(batched(1).size === 16, func)
    }
    // the constant bucket's variance is clamped, not negative
    val sd = store.readTimeSeries(Query(T0 + 30000, T0 + 31000, Seq(eqMatch("i", "3")),
      Some(ReadHints(step, "stdvar"))))
    assert(sd.head.samples === Seq(Sample(T0 + 30000, 0d)))
  }

  test("degenerate hinted reads answer as readSeries does: batched, IN-list and fingerprint_in tiers, over HTTP") {
    val labelSets = (0 until 12).map(i => Seq(Label("__name__", "odd_metric"), Label("i", i.toString)))
    // negative timestamps, NaN, -0.0 beside 0.0, repeated instants
    val samples = Seq(Sample(-5000, Double.NaN), Sample(-4500, -0d), Sample(-4500, 0d), Sample(-4500, 1d),
      Sample(-3000, Double.NaN), Sample(-3000, 2.5), Sample(-1, 2.5), Sample(0, -0d), Sample(1999, 0d),
      Sample(1999, 0d), Sample(4000, -0d))
    val dir = java.nio.file.Files.createTempDirectory("graft_hintedge_").toString
    new ParquetStore(spark, dir).write(batchDF(labelSets.zipWithIndex.map { case (ls, i) =>
      TimeSeries(ls, samples.map(s => if (i % 2 == 0 || s.value.isNaN) s else s.copy(value = s.value + i))) }))
    val one = Seq(eqMatch("i", "1"))
    val two = Seq(reMatch("i", "1|2"))
    val metric = Seq(eqMatch("__name__", "odd_metric"))
    val (from, to) = (-10000L, 10000L)
    def hinted(ms: Seq[Matcher], step: Long, func: String, range: (Long, Long) = (from, to)) =
      Query(range._1, range._2, ms, Some(ReadHints(step, func)))
    val qs = Seq(
      hinted(one, 0L, "avg"), hinted(metric, -1000L, "sum"), hinted(two, 0L, "rate"),
      hinted(one, 1000L, "holt_winters"), hinted(metric, 1000L, "quantile:1.5"),
      hinted(metric, 1000L, "avg", (to, from)), hinted(one, 1000L, "max", (1000L, 999L)),
      hinted(Seq(eqMatch("__name__", "no_such_metric")), 1000L, "avg"),
      Query(from, to, two)) ++
      (hintFuncs :+ "quantile:0.5").flatMap(f => Seq(hinted(one, 1000L, f), hinted(two, 1000L, f), hinted(metric, 3000L, f)))
    val wide = spark.newSession()
    wide.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "100")
    val searched = spark.newSession()
    searched.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1")
    for ((tier, session) <- Seq("IN-list" -> wide, "fingerprint_in" -> searched)) {
      val store = new ParquetStore(session, dir)
      store.readAll(Seq(Query(from, to, metric))) // the density that lets hinted reads share the scan
      val want = engineAnswers(store, qs)
      assert(want.take(5).forall(_.nonEmpty) && want.slice(5, 8).forall(_.isEmpty), tier)
      assert(agree(store.readAll(qs), want), s"$tier:\n${store.readAll(qs)}\n$want")
      assert(agree(qs.map(store.readTimeSeries), want), tier)
      val api = new graft.api.HttpApi(session, store, serveDerivedHintsOnWire = true)
      val port = api.start()
      try assert(agree(graft.api.HttpApi.remoteRead(s"http://127.0.0.1:$port", qs), want), tier)
      finally api.stop()
    }
  }

  test("parquet: a batch of IN-list, fingerprint_in and hinted slots is one job of one stage over one scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = java.nio.file.Files.createTempDirectory("graft_hintscan_").toString
    val series = (0 until 60).map(i => Seq(Label("__name__", "mix_metric"), Label("i", i.toString)))
    new ParquetStore(spark, dir).write(batchDF(series.zipWithIndex.map { case (ls, i) =>
      TimeSeries(ls, (0 until 6).map(k => Sample(T0 + k * 1000L, (k * i).toDouble))) }))
    val metric = Seq(eqMatch("__name__", "mix_metric"))
    val batch = Seq(
      Query(T0, T0 + 5000, Seq(eqMatch("i", "7"))),
      Query(T0, T0 + 5000, metric),
      Query(T0, T0 + 5000, metric, Some(ReadHints(2000L, "avg_over_time"))),
      Query(T0 + 1000, T0 + 4000, Seq(eqMatch("i", "9")), Some(ReadHints(2000L, "quantile:0.5"))),
      Query(T0, T0 + 5000, Seq(reMatch("i", "1.")), Some(ReadHints(3000L, "rate"))),
      // a hint the engine serves raw samples for
      Query(T0, T0 + 5000, Seq(eqMatch("i", "3")), Some(ReadHints(0L, "max"))))
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    for (session <- Seq(spark.newSession(), static)) {
      val mode = s"adaptive=${session.conf.get("spark.sql.adaptive.enabled")}"
      val store = new ParquetStore(session, dir)
      assert(store.readTimeSeries(batch(1)).size === 60) // loads the index
      val (answer, plans, jobs, stages) = plansOf(session)(store.readAll(batch))
      assert(answer.map(_.size) === Seq(1, 60, 60, 1, 10, 1), mode)
      assert(jobs === 1 && stages === 1 && plans.size === 1, s"$mode: $plans")
      assert(nodesOf(plans) { case e: Exchange => e }.isEmpty, s"$mode: $plans")
      assert(nodesOf(plans) { case s: FileSourceScanExec => s }.size === 1, s"$mode: $plans")
      assert(agree(answer, engineAnswers(store, batch), (_, s) => 1e-12 * math.abs(s.value)), mode)
    }
  }

  test("parquet: a hinted read that would collect many raw rows keeps the engine's aggregate") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = java.nio.file.Files.createTempDirectory("graft_hintgate_").toString
    // 8 series, a sample every 10 ms for 10 s: 0.1 raw rows per series-ms
    new ParquetStore(spark, dir).write(batchDF((0 until 8).map(i =>
      TimeSeries(Seq(Label("__name__", "dense_metric"), Label("i", i.toString)),
        (0 until 1000).map(k => Sample(T0 + k * 10L, (k % 97) * 0.5 + i))))))
    val store = new ParquetStore(spark, dir)
    val metric = Seq(eqMatch("__name__", "dense_metric"))
    // the estimate counts the whole range, stored or not
    def avg(rows: Double) = Query(T0, T0 + (rows / 0.8).toLong, metric, Some(ReadHints(100L, "avg")))
    val (few, many) = (avg(8000), avg(Storage.DriverBucketedRows * 2))
    def read(q: Query) = {
      val (answer, plans, _, _) = plansOf(spark)(store.readAll(Seq(q)))
      val want = engineAnswers(store, Seq(q))
      assert(agree(answer, want, (_, s) => 1e-12 * math.abs(s.value)), s"$q:\n$answer\n$want")
      assert(answer.head.map(_.samples.size) === Seq.fill(8)(100), q)
      nodesOf(plans) { case e: Exchange => e }.nonEmpty
    }
    assert(read(few), "before a raw read the store knows no density: the engine aggregates")
    assert(store.readAll(Seq(Query(T0, T0 + 10000, metric))).head.map(_.samples.size) === Seq.fill(8)(1000))
    assert(!read(few), "8,000 raw rows: bucketed on the driver")
    assert(read(many), "more than DriverBucketedRows: the engine aggregates")
  }

  test("parquet: samples files are sorted by fingerprint, so a one-series read skips pages") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.internal.column.columnindex.BoundaryOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit, map}
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_").toString
    val store = new ParquetStore(spark, dir)
    // 3,000 series x 100 samples, one write
    val rows = 300000L
    store.write(spark.range(rows).select(
      map(lit("__name__"), lit("sorted_metric"), lit("i"), (col("id") % 3000).cast("string")).as("labels"),
      (lit(T0) + (col("id") / 3000).cast("long") * 1000L).as("timestamp_ms"),
      col("id").cast("double").as("value")))
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(s"$dir/samples").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    val pages = files.toSeq.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
        val chunk = block.getColumns.asScala.find(_.getPath.toDotString == "fingerprint").get
        val index = reader.readColumnIndex(chunk)
        assert(index.getBoundaryOrder === BoundaryOrder.ASCENDING, f.getName)
        index.getMinValues.size
      }.sum
      finally reader.close()
    }
    assert(pages.sum >= 5, pages)
    val (read, plans, _, _) = plansOf(spark)(store.read(
      Query(T0, T0 + 1000000L, Seq(eqMatch("i", "17")))).collect())
    assert(read.length === 100)
    val decoded = nodesOf(plans) { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
    assert(decoded.size === 1 && decoded.head <= rows / 5, decoded)
  }
}
