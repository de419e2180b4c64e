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
    // the rollup path must force the broadcast semi-join exactly like
    // read()'s tier 2 — a shuffled join here would shuffle the rollup on
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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.job_tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { t =>
          if (t == tag) jobs.incrementAndGet() else if (t == s"$tag/marker") drained.countDown()
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
      (out, jobs.get())
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
}
