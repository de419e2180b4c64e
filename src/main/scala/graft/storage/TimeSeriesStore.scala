package graft.storage

import graft.core.MatcherCompiler
import graft.functions.{dd_hist, dd_hist_merge, dd_quantile, labels_fingerprint, labels_json, ts_val_encode, ts_val_ts, ts_val_v}
import graft.model.{Label, Matcher, Query, Sample, TimeSeries}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The engine's storage interface — the Spark re-expression of the
  * reference's `base.Storage` (storages/base/base.go:31-40).
  *
  * Physical layout mirrors the reference's two-table design
  * (storages/clickhouse/clickhouse.go:82-101), adapted to a data lake:
  *
  *  - `samples/` parquet: (fingerprint LONG, timestamp_ms LONG, value DOUBLE),
  *    hive-partitioned by `date = to_date(timestamp_ms/1000)` (daily
  *    partitions, like PARTITION BY toDate(...)), rows sorted by
  *    (fingerprint, timestamp_ms) within files so parquet row-group min/max
  *    stats prune on fingerprint at scan time (the ORDER BY key analogue).
  *  - `time_series/` parquet: (date DATE, fingerprint LONG, labels STRING
  *    canonical JSON). Duplicate fingerprints across writer batches are
  *    tolerated and deduplicated at read (the ReplacingMergeTree analogue).
  *
  * Read path (clickhouse.go:372-421):
  *  1. matchers select series from a label index held in driver memory,
  *     as the reference's in-RAM map does — no Spark job, but the whole
  *     series dictionary must fit on the driver (see [[ParquetStore]]);
  *  2. matched fingerprints prune the samples scan: a small set is inlined
  *     as an IN filter (parquet row-group skipping; the reference's IN-list
  *     branch), a large set becomes a broadcast join with the matched
  *     series (the temp-table JOIN branch);
  *  3. time range is a partition-pruning `date` predicate + closed-interval
  *     `timestamp_ms` filter.
  */
trait Storage {

  protected def session: SparkSession

  /** Append a batch of series. `batch` columns: `labels map<string,string>`,
    * `timestamp_ms long`, `value double`. */
  def write(batch: DataFrame): Unit

  /** Flat sample rows matching the query:
    * (fingerprint, timestamp_ms, value, labels JSON string). */
  def read(q: Query): DataFrame

  /** Read with the rawsql escape-hatch routing applied (F9,
    * clickhouse.go:374-388): `{job="rawsql", query="<SQL>"}` bypasses the
    * matcher pipeline into `spark.sql`. */
  final def readQuery(q: Query): DataFrame =
    RawSql.trigger(q.matchers) match {
      case Some(sql) => RawSql.read(session, sql, q.endMs)
        .select("fingerprint", "timestamp_ms", "value", "labels")
      case None => read(q).select("fingerprint", "timestamp_ms", "value", "labels")
    }

  /** Hinted-read fast path from a pre-aggregated rollup table, when the
    * store maintains one and the hint is answerable from it. Default: none
    * (hints are then answered by aggregating raw samples at query time). */
  protected def readHintedRollup(q: Query, hints: graft.model.ReadHints): Option[DataFrame] = None

  /** Series count and seconds since the last refresh of the store's series
    * index, once it has one; None for stores that keep no index. */
  def seriesIndexStats: Option[(Long, Double)] = None

  /** Assembled series, reference read contract: samples time-ordered within
    * each series (prompb.proto:59-62). When the query carries exploitable
    * ReadHints (aggregating func + step), samples are served pre-aggregated
    * per step bucket — from the write-side rollup table when the store
    * keeps one, else by aggregating the raw scan — the optimization the
    * reference's dropped-hints field anticipates (prompb.proto:45-50,
    * prom.go:184-186). */
  final def readSeries(q: Query): DataFrame =
    hintedFlat(q)
      .groupBy(col("fingerprint"), col("labels"))
      .agg(sort_array(collect_list(struct(col("timestamp_ms"), col("value")))).as("samples"))

  /** The flat (fingerprint, timestamp_ms, value, labels) frame for a query
    * with its hint (if any) applied — the single source for both the
    * one-query and the batched read paths. */
  private def hintedFlat(q: Query): DataFrame =
    q.hints.flatMap(h => readHintedRollup(q, h)).getOrElse {
      val flat = readQuery(q)
      q.hints.flatMap(h => Storage.hintedDownsample(flat, h)).getOrElse(flat)
    }

  /** S2 batch read: a ReadRequest is a positional batch of independent
    * queries (reference: prompb.proto:64-66, clickhouse.go:390-420),
    * order preserved. Multi-query batches run as ONE Spark job — per-query
    * frames are tagged with their index and unioned, so the scheduler
    * overlaps their scans instead of running N sequential jobs (the
    * reference necessarily loops; a DAG engine shouldn't).
    *
    * NOTE the driver-side materialization: one protobuf ReadResponse is
    * the wire contract (the reference does the same), so the whole batch
    * collects to the caller. An empty-matcher slot is therefore a
    * BULK-EXPORT riding a dashboard path — for store-to-file export use
    * [[graft.tools.Promload]] (`store2file`), which streams chunked
    * time-windows through executors instead of the driver. */
  final def readAll(queries: Seq[Query]): Seq[Seq[TimeSeries]] =
    if (queries.sizeIs <= 1) queries.map(readTimeSeries)
    else {
      val unioned = queries.zipWithIndex
        .map { case (q, i) => hintedFlat(q).withColumn("query_idx", lit(i)) }
        .reduce(_ unionByName _)
        .groupBy(col("query_idx"), col("fingerprint"), col("labels"))
        .agg(sort_array(collect_list(struct(col("timestamp_ms"), col("value")))).as("samples"))
      val byIdx = unioned.collect().groupBy(_.getAs[Int]("query_idx"))
      queries.indices.map(i =>
        byIdx.getOrElse(i, Array.empty[org.apache.spark.sql.Row]).toSeq
          .map(rowToSeries).sortBy(seriesSortKey))
    }

  /** Typed edge for tests / the wire layer. */
  final def readTimeSeries(q: Query): Seq[TimeSeries] =
    readSeries(q).collect().toSeq.map(rowToSeries).sortBy(seriesSortKey)

  private def rowToSeries(row: org.apache.spark.sql.Row): TimeSeries = {
    val labels = graft.core.LabelsJson.unmarshal(row.getAs[String]("labels"))
      .toSeq.map { case (n, v) => Label(n, v) }.sortBy(_.name)
    val samples = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("samples")
      .map(s => Sample(s.getLong(0), s.getDouble(1))).toSeq
    TimeSeries(labels, samples)
  }

  /** Reference output order: metric name, then fingerprint — UNSIGNED
    * uint64 order (utils/timeseries/timeseries.go:32-56; fingerprints
    * routinely exceed Long.MaxValue, README.md:35). Flipping the sign bit
    * makes signed comparison follow unsigned order. */
  private def seriesSortKey(ts: TimeSeries): (String, Long) =
    (ts.labels.find(_.name == "__name__").map(_.value).getOrElse(""),
      graft.core.Fingerprint.of(ts.labels) ^ Long.MinValue)
}

object Storage {
  /** Threshold between IN-list pruning and broadcast semi-join, the
    * reference's MaxTimeSeriesInQuery default (cmd/promhouse/main.go:198). */
  val MaxSeriesInline = 50

  /** Above this matched-series cardinality the read path stops forcing a
    * broadcast semi-join (a million fingerprints ≈ 8 MB broadcasts fine; a
    * hundred million would OOM executors) and lets AQE choose. */
  val BroadcastSeriesLimit = 1000000L

  /** Hint funcs answerable from rollup partials (after stripping the
    * `_over_time` suffix). avg/sum/min/max/count re-merge algebraically;
    * last/rate/increase/delta derive from the first/last (ts, value)
    * partials. rate/increase semantics are BUCKET-LOCAL: (last−first)
    * within each step bucket, no cross-bucket extrapolation and no
    * counter-reset correction — hints are advisory (the reference drops
    * them entirely, prom.go:184-186); callers needing Prometheus-exact
    * extrapolated rate query raw. */
  val RollupBases: Set[String] =
    Set("avg", "sum", "min", "max", "count", "last", "rate", "increase", "delta",
      "stddev", "stdvar")

  /** Hint funcs derived from the sum-of-squares partial (population
    * variance algebra, matching PromQL's stddev/stdvar_over_time). */
  val SumSqBases: Set[String] = Set("stddev", "stdvar")

  /** Parse a `quantile:<q>` hint base (e.g. "quantile:0.99") — the
    * parameterized form pushdown-aware callers use; Prometheus's own bare
    * "quantile" hint carries no q (the parameter lives in the PromQL call,
    * not in ReadHints) and is NOT rollup-answerable. Served within
    * relative error α from the DDSketch partials. */
  def quantileQ(base: String): Option[Double] =
    if (!base.startsWith("quantile:")) None
    else base.stripPrefix("quantile:").toDoubleOption.filter(q => q >= 0 && q <= 1)

  /** Hint funcs whose derived values must NOT be served as samples to a
    * stock remote-read client: ReadHints are advisory, so Prometheus
    * re-applies the function over whatever samples come back — rate() over
    * per-bucket rate values is rate-of-rate, silently wrong. min/max/last
    * (and bucket-aligned avg/sum) re-apply harmlessly. The wire edge strips
    * these hints via [[sanitizeWireHints]] (falling back to raw samples,
    * reference-identical behavior, prom.go:184-186) unless the deployment
    * opts in for pushdown-aware callers. */
  val WireUnsafeHintFuncs: Set[String] =
    Set("rate", "increase", "delta", "stddev", "stdvar")

  /** Drop a query's hint when a hint-oblivious remote-read client would
    * mis-reapply its func over the derived samples (see
    * [[WireUnsafeHintFuncs]]); internal callers keep full deriveHint use. */
  def sanitizeWireHints(q: graft.model.Query): graft.model.Query =
    if (q.hints.exists { h =>
        val base = h.func.stripSuffix("_over_time")
        // quantile is re-apply-unsafe too: quantile-of-bucket-quantiles ≠
        // quantile, so a hint-oblivious client would silently diverge
        WireUnsafeHintFuncs.contains(base) || base.startsWith("quantile")
      }) q.copy(hints = None)
    else q

  /** One rollup partial row per (keys…, step bucket) over a
    * (…, timestamp_ms, value) frame: algebraic aggregates (cnt/min/max/sum)
    * plus first/last (ts, value) pairs. Rows from separate batches covering
    * the same bucket re-merge EXACTLY via [[mergeRollup]] — cnt/sum add,
    * min/max combine, and (first, last) merge as min/max of the (ts, value)
    * struct, which is associative and deterministic under timestamp ties
    * (value breaks them). One partial-agg shuffle on (keys, bucket). */
  def rollupPartials(samples: DataFrame, stepMs: Long,
      keys: Seq[String] = Seq("fingerprint")): DataFrame =
    samples
      .withColumn("bucket_ms", col("timestamp_ms") - pmod(col("timestamp_ms"), lit(stepMs)))
      // first/last as min/max over the order-preserving decimal pack of
      // (ts, value) — NOT min/max(struct): a struct aggregation buffer
      // forces SortAggregateExec, which sorts every input row of this (the
      // ingest- and serving-hot) stage; the decimal buffer hash-aggregates
      // (plan-asserted in StorageSpec). Same (ts, value) lexicographic
      // tie-break either way.
      .groupBy(keys.map(col) :+ col("bucket_ms"): _*)
      .agg(count(lit(1)).as("cnt"), min("value").as("min_v"),
        max("value").as("max_v"), sum("value").as("sum_v"),
        // sum of squares: with cnt/sum_v it derives population
        // stddev/stdvar algebraically (E[x²] − E[x]²) — adds, so it
        // re-merges exactly like sum_v
        sum(col("value") * col("value")).as("sum_sq"),
        min(ts_val_encode(col("timestamp_ms"), col("value"))).as("f"),
        max(ts_val_encode(col("timestamp_ms"), col("value"))).as("l"),
        // DDSketch partial: deterministic + merge-order-independent, so it
        // re-merges exactly like the algebraic columns. Catalyst's column
        // pruning drops it from plans that never read `hist` (plan-locked
        // in PlanSpec), so non-quantile hints pay nothing for it.
        dd_hist(col("value")).as("hist"))
      .select(keys.map(col) ++ Seq(col("bucket_ms"), col("cnt"), col("min_v"),
        col("max_v"), col("sum_v"), col("sum_sq"),
        ts_val_ts(col("f")).as("first_ts"), ts_val_v(col("f")).as("first_v"),
        ts_val_ts(col("l")).as("last_ts"), ts_val_v(col("l")).as("last_v"),
        col("hist")): _*)

  /** Merge partial rollup rows (possibly many per bucket, from separate
    * writer batches) and re-bucket to a coarser step — the hint's step must
    * be a multiple of the partial granularity. Output keeps the partial
    * schema with `timestamp_ms` as the step-aligned bucket. */
  def mergeRollup(partials: DataFrame, stepMs: Long,
      keys: Seq[String] = Seq("fingerprint")): DataFrame =
    partials
      .withColumn("timestamp_ms", col("bucket_ms") - pmod(col("bucket_ms"), lit(stepMs)))
      .groupBy(keys.map(col) :+ col("timestamp_ms"): _*)
      .agg(sum("cnt").as("cnt"), min("min_v").as("min_v"),
        max("max_v").as("max_v"), sum("sum_v").as("sum_v"),
        // null sum_sq (pre-migration rows) skipped by sum-ignores-nulls;
        // the rollupServesSumSq gate keeps mixed groups off stddev/stdvar
        sum("sum_sq").as("sum_sq"),
        // decimal pack, not struct — keeps the merge in HashAggregate (see
        // rollupPartials). Null first/last (pre-migration rows) stay null
        // through min/max-ignores-nulls, same as the struct formulation
        // only when ALL rows are null — the rollupServesFirstLast gate
        // already guarantees no mixed groups reach a first/last-derived
        // func, and the algebraic funcs never read these columns.
        min(ts_val_encode(col("first_ts"), col("first_v"))).as("f"),
        max(ts_val_encode(col("last_ts"), col("last_v"))).as("l"),
        // null partials (pre-migration rows) are skipped, same caveat as
        // first/last: the serving gate keeps mixed groups off quantile
        dd_hist_merge(col("hist")).as("hist"))
      .select(keys.map(col) ++ Seq(col("timestamp_ms"), col("cnt"), col("min_v"),
        col("max_v"), col("sum_v"), col("sum_sq"),
        ts_val_ts(col("f")).as("first_ts"), ts_val_v(col("f")).as("first_v"),
        ts_val_ts(col("l")).as("last_ts"), ts_val_v(col("l")).as("last_v"),
        col("hist")): _*)

  /** Hint funcs derived from the first/last (ts, value) partials — these
    * need the extended rollup schema ([[rollupPartials]] since it grew
    * first_ts/first_v/last_ts/last_v); the algebraic rest only needs
    * cnt/min_v/max_v/sum_v. */
  val FirstLastBases: Set[String] = Set("last", "rate", "increase", "delta")

  /** Project merged rollup rows to (keys…, timestamp_ms, value) for a hint
    * func; None when the func is not rollup-answerable. rate/increase/delta
    * all drop buckets without a positive time delta — chronological
    * first/last is undefined on a single instant (one shared predicate so
    * every first/last-derived func has the same well-defined domain).
    * `last` additionally guards on a non-null last pair, so rows that lost
    * their first/last partials (pre-migration rollup files, see
    * [[graft.tools.Compact]]) are never emitted as null-valued samples. */
  def deriveHint(merged: DataFrame, func: String,
      keys: Seq[String] = Seq("fingerprint")): Option[DataFrame] = {
    val base = func.stripSuffix("_over_time")
    val value = base match {
      case "count" => col("cnt").cast(DoubleType)
      case "min"   => col("min_v")
      case "max"   => col("max_v")
      case "sum"   => col("sum_v")
      case "avg"   => col("sum_v") / col("cnt")
      case "last"  => col("last_v")
      case "delta" | "increase" => col("last_v") - col("first_v")
      case "rate" =>
        (col("last_v") - col("first_v")) / ((col("last_ts") - col("first_ts")) / 1000.0)
      // population variance from algebraic partials (E[x²] − E[x]², the
      // PromQL stdvar/stddev_over_time semantics); greatest(…, 0) clamps
      // the tiny negative float residue a constant-valued bucket can leave
      case "stdvar" =>
        greatest(col("sum_sq") / col("cnt")
          - (col("sum_v") / col("cnt")) * (col("sum_v") / col("cnt")), lit(0.0))
      case "stddev" =>
        sqrt(greatest(col("sum_sq") / col("cnt")
          - (col("sum_v") / col("cnt")) * (col("sum_v") / col("cnt")), lit(0.0)))
      case b => quantileQ(b) match {
        case Some(q) => dd_quantile(col("hist"), q)
        case None    => return None
      }
    }
    val filtered = base match {
      case "rate" | "delta" | "increase" => merged.where(col("last_ts") > col("first_ts"))
      case "last" => merged.where(col("last_ts").isNotNull)
      case "stddev" | "stdvar" => merged.where(col("sum_sq").isNotNull)
      case b if quantileQ(b).isDefined => merged.where(col("hist").isNotNull)
      case _ => merged
    }
    Some(filtered.select(keys.map(col) ++ Seq(col("timestamp_ms"), value.as("value")): _*))
  }

  /** Pre-aggregate a flat (fingerprint, timestamp_ms, value, labels) frame
    * into per-(series, step-bucket) samples for an exploitable hint; None
    * when the hint cannot be answered by bucketing (the caller then serves
    * raw samples, exactly like the reference always does). Bucket timestamps
    * are step-aligned via floored division, so they are stable across
    * queries with the same step — a Prometheus caller can cache/merge them.
    * ONE partial-agg shuffle on (fingerprint, bucket) — partials at the
    * hint's own step already ARE the merged rows, so no second exchange;
    * at 100 TB this is the same plan shape as the ds1 streaming downsample. */
  def hintedDownsample(flat: DataFrame, hints: graft.model.ReadHints): Option[DataFrame] = {
    if (hints.stepMs <= 0) return None
    val keys = Seq("fingerprint", "labels")
    val merged = rollupPartials(flat, hints.stepMs, keys)
      .withColumnRenamed("bucket_ms", "timestamp_ms")
    deriveHint(merged, hints.func, keys)
      .map(_.select("fingerprint", "timestamp_ms", "value", "labels"))
  }

  val samplesSchema: StructType = StructType(Seq(
    StructField("fingerprint", LongType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** An empty (fingerprint, timestamp_ms, value, labels) frame. A local
    * relation, not an empty RDD: the optimizer folds every plan built on
    * it, so collecting one runs no Spark job. */
  def emptyFlat(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), samplesSchema.add("labels", StringType))

  /** Normalize a raw (labels, timestamp_ms, value) batch into sample rows +
    * canonical series rows. */
  private[storage] def prepare(batch: DataFrame): (DataFrame, DataFrame) = {
    val withFp = batch
      .withColumn("fingerprint", labels_fingerprint(col("labels")))
    val samples = withFp.select(
      col("fingerprint"), col("timestamp_ms").cast(LongType), col("value").cast(DoubleType))
    val series = withFp
      .select(col("fingerprint"), labels_json(col("labels")).as("labels"))
      .dropDuplicates("fingerprint")
    (samples, series)
  }
}

/** Parquet/lake-backed store — the ClickHouse-storage analogue.
  *
  * Series index: the dictionary `time_series/` is mirrored on the driver in
  * a [[LabelIndex]] (fingerprint → labels JSON, plus per-label postings),
  * the reference's in-RAM label map (clickhouse.go:51-53, 146-204).
  * Matchers are evaluated there, so a read submits no Spark job before its
  * samples scan, and `samples/` is read with its known schema (no footer
  * inference). A write adds its new series to the index inline and appends
  * only those to `time_series/` (clickhouse.go:438-447). The whole
  * dictionary must fit in driver memory: about 135 bytes per series plus
  * its labels JSON string (~160 bytes for a 6-label Prometheus series),
  * and ~170 bytes per distinct label value (measured over 200k series on
  * a 64-bit JVM with compressed oops) — ~60 MB per 200k such series.
  *
  * @param indexTtlMs how long a listing of `time_series/` stays fresh. The
  *   reference re-reads its dictionary table every 5 s (clickhouse.go:
  *   146-204) — that refresh loop is also its multi-writer discovery
  *   mechanism. Here a read or write older than the TTL re-lists the
  *   dictionary files: files no listing has seen yet (another writer's
  *   appends) are loaded into the index; when a known file has vanished
  *   (a `Compact` rewrite) the index reloads whole. Other writers' series
  *   therefore appear within one TTL, the reference's staleness window;
  *   this store's own writes are visible at once. `indexTtlMs = 0`
  *   re-lists on every read.
  * @param rollupStepMs when > 0, every write also maintains
  *   `samples_rollup/` — per-(fingerprint, step-bucket) partial aggregates
  *   (count/min/max/sum). Hinted reads whose step is a multiple of this
  *   granularity are then served ENTIRELY from the rollup (the raw samples
  *   table is never scanned): at 100 TB a dashboard's `avg_over_time` with
  *   a 5 m step reads step/scrape-interval ≈ 20-300× less data. The
  *   aggregates are algebraic, so duplicate partial rows from separate
  *   batches re-merge exactly at read. Off by default — it adds one
  *   aggregation + append per ingest batch (the classic TSDB rollup
  *   write-cost/read-speed trade; the reference never shipped its
  *   roadmap downsampling, README.md:71).
  * @param fingerprintBuckets when > 0, samples are additionally
  *   hive-partitioned by `bucket = pmod(fingerprint, N)` under each day —
  *   metastore-free co-location by series. Matcher queries with a bounded
  *   fingerprint set then PARTITION-prune to |set|/N of each day's files
  *   (on top of row-group stats), and any fingerprint-keyed job can
  *   process bucket-by-bucket. The cost is N× more files per day per
  *   batch (compaction collapses them), so size N to the cluster, not the
  *   laptop. Off by default. */
final class ParquetStore(spark: SparkSession, root: String,
    indexTtlMs: Long = 5000L, rollupStepMs: Long = 0L,
    fingerprintBuckets: Int = 0,
    // the reference's server-flag surface (cmd/promhouse/main.go:156-163
    // exposes conn-pool sizing and MaxTimeSeriesInQuery): per-store knobs
    // with the tuned defaults, settable from HttpApi.main's flags
    maxSeriesInline: Int = Storage.MaxSeriesInline,
    broadcastSeriesLimit: Long = Storage.BroadcastSeriesLimit) extends Storage {
  import ParquetStore._
  import Storage._

  override protected def session: SparkSession = spark

  private val samplesPath = s"$root/samples"
  private val seriesPath = s"$root/time_series"
  private val rollupPath = s"$root/samples_rollup"

  /** `samples/` columns, partition columns included: reading with a
    * given schema skips the footer-inference job. */
  private val samplesReadSchema: StructType = {
    val dated = samplesSchema.add("date", DateType)
    if (fingerprintBuckets > 0) dated.add("bucket", LongType) else dated
  }

  private lazy val fs: FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Serializes this store's appends: concurrent Spark writes into one
    * table share its `_temporary` commit directory and fail each other. */
  private val writeLock = new Object
  /** Guards index refreshes, and the series appends a refresh must not
    * see half done. */
  private val indexLock = new Object
  @volatile private var snapshot: Option[Snapshot] = None
  @volatile private var rollupCapsOk: Option[(Boolean, Boolean, Boolean)] = None
  @volatile private var rollupClaimed: Boolean = false

  private def exists(path: String): Boolean = fs.exists(new Path(path))

  /** One-pass capability probe for every migration-gated rollup partial:
    * a capability holds when its columns exist under a merged-footer read
    * AND no row reads them as null (a mixed old+new dir exposes the
    * columns but nulls them for pre-migration files — min/max(struct)
    * would elect null-field structs, a partial `hist` would under-count
    * quantiles, a partial `sum_sq` over full cnt would shrink variances).
    * One column-pruned scan bounded by rollup size (fold× smaller than
    * raw) computes all three booleans — a first stddev hint after a
    * quantile hint must not rescan the table — memoized per store
    * instance until [[invalidateIndex]]; rollupPartials never emits null
    * partials, so null ⟺ old file. `Compact.run` migrates old/mixed dirs,
    * after which all three are true. */
  private def probeRollupCaps(): (Boolean, Boolean, Boolean) = rollupCapsOk.getOrElse {
    val merged = spark.read.option("mergeSchema", "true").parquet(rollupPath)
    val cols = merged.columns.toSet
    val flCols = Seq("first_ts", "first_v", "last_ts", "last_v").forall(cols)
    val histCols = cols("hist")
    val sqCols = cols("sum_sq")
    def nulls(c: String, present: Boolean): org.apache.spark.sql.Column =
      sum(if (present) when(col(c).isNull, 1L).otherwise(0L) else lit(0L))
    val row = merged.agg(
      nulls("first_ts", flCols).as("fl"),
      nulls("hist", histCols).as("h"),
      nulls("sum_sq", sqCols).as("sq")).head()
    // null sum ⟺ empty table ⟺ no violating rows
    def noNulls(i: Int) = row.isNullAt(i) || row.getLong(i) == 0L
    val caps = (flCols && noNulls(0), histCols && noNulls(1), sqCols && noNulls(2))
    rollupCapsOk = Some(caps)
    caps
  }
  private def rollupServesFirstLast(): Boolean = probeRollupCaps()._1
  private def rollupServesHist(): Boolean = probeRollupCaps()._2
  private def rollupServesSumSq(): Boolean = probeRollupCaps()._3

  override def write(batch: DataFrame): Unit = {
    val (samples, series) = prepare(batch)
    writeParts(samples, series)
  }

  private def writeParts(samples: DataFrame, series: DataFrame): Unit = writeLock.synchronized {
    // one-producer contract, checked BEFORE any append: a root whose
    // rollup a streaming sink owns must refuse the whole batch write up
    // front — failing between the raw append and the rollup append would
    // land raw rows whose buckets no producer ever rolls up
    // (serving-only stores with rollupStepMs > 0 never write, so they
    // never claim; Downsample.claimRollupProducer is idempotent)
    // claimed once per store instance — the marker is immutable after a
    // successful claim, so later batches need no FS round-trip
    if (rollupStepMs > 0 && !rollupClaimed) {
      graft.streaming.Downsample.claimRollupProducer(spark, root, "batch")
      rollupClaimed = true
    }
    // New-series detection against the driver index (clickhouse.go:438-447):
    // the dictionary only grows by fingerprints the index has not seen.
    // Another writer's race can still append the same series twice; the
    // index keeps one (the ReplacingMergeTree semantics).
    val batchSeries = series.collect().map(r => (r.getLong(0), r.getString(1)))
    indexLock.synchronized {
      val idx = index()
      val fresh = batchSeries.filterNot { case (fp, _) => idx.contains(fp) }
      if (fresh.nonEmpty) {
        val files = appendSeries(fresh)
        idx.add(fresh)
        snapshot = snapshot.map(s => s.copy(files = s.files ++ files))
      }
    }

    // Daily partitions + (fingerprint, timestamp_ms) sort within partitions:
    // row-group stats then prune fingerprint point-lookups (the MergeTree
    // ORDER BY analogue, clickhouse.go:93-101).
    // zstd over sorted data: measured 1.89 B/sample on the Prometheus-shaped
    // corpus vs 4.66 snappy and the reference's published 5.3 (Diag).
    // RANGE partitioning on (date, fingerprint), not hash on date alone: a
    // batch rarely spans many days, and hash-by-date funnels each whole day
    // through ONE sort+compress+write task — at 100 TB/day that task never
    // finishes. Ranges keep day locality, split a day into files covering
    // DISJOINT fingerprint ranges (point lookups stay one-file-per-day
    // tight), and parallelize by cluster width instead of by span-of-days.
    val dated = samples
      .withColumn("date", to_date(timestamp_millis(col("timestamp_ms"))))
    if (fingerprintBuckets > 0)
      dated
        .withColumn("bucket", pmod(col("fingerprint"), lit(fingerprintBuckets.toLong)))
        .repartition(col("date"), col("bucket"))
        .sortWithinPartitions("fingerprint", "timestamp_ms")
        .write.mode(SaveMode.Append).partitionBy("date", "bucket")
        .option("compression", "zstd").parquet(samplesPath)
    else
      dated
        .repartitionByRange(col("date"), col("fingerprint"))
        .sortWithinPartitions("fingerprint", "timestamp_ms")
        .write.mode(SaveMode.Append).partitionBy("date")
        .option("compression", "zstd").parquet(samplesPath)

    if (rollupStepMs > 0) {
      // per-batch partial rollup rows; cross-batch duplicates of the same
      // (fingerprint, bucket) re-merge at read (aggregates are algebraic,
      // first/last merge as min/max of the (ts, value) struct). Own appends
      // always carry the full rollup schema, so they cannot flip a memoized
      // partial capability either way.
      rollupPartials(samples, rollupStepMs)
        .withColumn("date", to_date(timestamp_millis(col("bucket_ms"))))
        .write.mode(SaveMode.Append).partitionBy("date")
        .option("compression", "zstd").parquet(rollupPath)
    }
  }

  /** Append series rows to `time_series/` under file names this store
    * knows, so its next listing does not load them back: the rows are
    * written to a hidden staging directory (Spark's file listing skips `_`
    * names) and its part files are moved in. Returns the moved names. */
  private def appendSeries(series: Seq[(Long, String)]): Set[String] = {
    val staging = new Path(seriesPath, s"_staging-${java.util.UUID.randomUUID()}")
    localSeries(series)
      .select(current_date().as("date"), col("fingerprint"), col("labels"))
      .coalesce(1)
      .write.option("compression", "zstd").parquet(staging.toString)
    try fs.listStatus(staging).iterator.map(_.getPath).filterNot(p => hidden(p.getName)).map { p =>
      if (!fs.rename(p, new Path(seriesPath, p.getName)))
        throw new java.io.IOException(s"cannot move $p into $seriesPath")
      p.getName
    }.toSet
    finally fs.delete(staging, true)
  }

  /** Serve an exploitable hint straight from the rollup table: matcher
    * pruning on the (rollup-bucket) rows, partial-row re-merge, then
    * re-bucket to the hint's step and derive the hinted value — including
    * last/rate/increase/delta from the first/last partials (the funcs the
    * reference's dropped-hints field anticipates, prompb.proto:45-50).
    * Whole rollup buckets intersecting [startMs, endMs] are served
    * (bucket-aligned semantics — hints are advisory; Prometheus re-filters
    * by time). Raw samples never scanned. Pruning uses `read`'s tiers
    * ([[Matched]]) on the same driver index. */
  override protected def readHintedRollup(
      q: Query, hints: graft.model.ReadHints): Option[DataFrame] = {
    val base = hints.func.stripSuffix("_over_time")
    val answerable = rollupStepMs > 0 && hints.stepMs > 0 &&
      hints.stepMs % rollupStepMs == 0 &&
      (RollupBases.contains(base) || quantileQ(base).isDefined) &&
      exists(rollupPath) &&
      // first/last-derived funcs need every rollup file to carry the
      // first/last partials; pre-migration dirs fall back to raw serving
      // (reference-identical) until Compact backfills them
      (!FirstLastBases.contains(base) || rollupServesFirstLast()) &&
      // quantile likewise needs the sketch partials in every file
      (quantileQ(base).isEmpty || rollupServesHist()) &&
      // stddev/stdvar likewise need the sum-of-squares partial everywhere
      (!SumSqBases.contains(base) || rollupServesSumSq())
    if (!answerable) return None

    val m = matched(q.matchers)
    if (m.series.isEmpty) return Some(emptyFlat(spark))

    val minDateMs = math.max(q.startMs, -62135596800000L)
    val maxDateMs = math.min(q.endMs, 253402300799999L)
    val rollupRaw = spark.read.parquet(rollupPath)
    // pre-migration rollup files (written before the schema grew the
    // first/last partials) still serve the algebraic funcs: pad the missing
    // columns with typed nulls so the shared merge works; the gate above
    // already routed first/last-derived funcs to the raw path
    val rollupFl =
      if (Seq("first_ts", "first_v", "last_ts", "last_v").forall(rollupRaw.columns.contains))
        rollupRaw
      else rollupRaw
        .withColumn("first_ts", lit(null).cast(LongType))
        .withColumn("first_v", lit(null).cast(DoubleType))
        .withColumn("last_ts", lit(null).cast(LongType))
        .withColumn("last_v", lit(null).cast(DoubleType))
    val rollupHistCompat =
      if (rollupFl.columns.contains("hist")) rollupFl
      else rollupFl.withColumn("hist", lit(null).cast(BinaryType))
    val rollupCompat =
      if (rollupHistCompat.columns.contains("sum_sq")) rollupHistCompat
      else rollupHistCompat.withColumn("sum_sq", lit(null).cast(DoubleType))
    val rollup0 = rollupCompat
      .where(col("bucket_ms") >= q.startMs - (rollupStepMs - 1) && col("bucket_ms") <= q.endMs)
      .where(col("date") >= to_date(timestamp_millis(lit(math.max(minDateMs - rollupStepMs, -62135596800000L))))
        && col("date") <= to_date(timestamp_millis(lit(maxDateMs))))

    // prune before the merge, so a mid-size matched set never shuffles the
    // rollup either; labels attach after deriving the hinted value
    val merged = mergeRollup(m.prune(rollup0), hints.stepMs)
    deriveHint(merged, hints.func).map(d =>
      m.attach(d).select("fingerprint", "timestamp_ms", "value", "labels"))
  }

  /** Idempotent append: drops samples whose (fingerprint, timestamp_ms)
    * already exist — the replay-safe variant of `write` for at-least-once
    * upstreams (the reference tolerates duplicate samples instead,
    * SURVEY.md §2.9; this is the Delta-MERGE-shaped alternative). The
    * existence check reads ONLY the date partitions the batch touches, so
    * its cost tracks batch time-span, not table size. Same-key samples
    * with different values count as duplicates (first write wins).
    * The fingerprint is computed once here and flows through to the write
    * (no second pass through `prepare`). Runs under the write lock, so
    * the check and the append see no other append of this store between
    * them. */
  def writeIdempotent(batch: DataFrame): Unit = writeLock.synchronized {
    val withFp = batch
      .withColumn("fingerprint", graft.functions.labels_fingerprint(col("labels")))
      .dropDuplicates("fingerprint", "timestamp_ms")
    val fresh =
      if (!exists(samplesPath)) withFp
      else {
        val Array(bounds) = withFp
          .agg(min("timestamp_ms").as("lo"), max("timestamp_ms").as("hi")).collect()
        if (bounds.isNullAt(0)) return
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val existing = spark.read.schema(samplesReadSchema).parquet(samplesPath)
          .where(col("date") >= to_date(timestamp_millis(lit(lo)))
            && col("date") <= to_date(timestamp_millis(lit(hi))))
          .where(col("timestamp_ms").between(lo, hi))
          .select("fingerprint", "timestamp_ms")
        withFp.join(existing, Seq("fingerprint", "timestamp_ms"), "left_anti")
      }
    val samples = fresh.select(
      col("fingerprint"), col("timestamp_ms").cast(LongType), col("value").cast(DoubleType))
    val series = fresh
      .select(col("fingerprint"), labels_json(col("labels")).as("labels"))
      .dropDuplicates("fingerprint")
    writeParts(samples, series)
  }

  /** The series dictionary as (fingerprint, labels, labels_map): a local
    * relation over the driver index, one row per fingerprint (read-side
    * ReplacingMergeTree; reference index refresh clickhouse.go:159).
    * Building it submits no Spark job unless the index is due a refresh. */
  def seriesIndex: DataFrame =
    localSeries(index().all)
      .withColumn("labels_map", from_json(col("labels"), MapType(StringType, StringType)))

  /** Drop the driver index; the next read or write reloads it whole from
    * storage. For anything that rewrites the dictionary out-of-band (e.g.
    * `Compact.run`) — a later listing would also notice the vanished files
    * — and to re-probe the rollup's partial capabilities. */
  def invalidateIndex(): Unit = indexLock.synchronized {
    snapshot = None
    rollupCapsOk = None
  }

  override def seriesIndexStats: Option[(Long, Double)] = snapshot.map(s =>
    (s.index.size.toLong, (System.currentTimeMillis() - s.listedAtMs) / 1000.0))

  /** The current index, re-listing `time_series/` first when the last
    * listing is older than `indexTtlMs` (every time when it is ≤ 0). */
  private def index(): LabelIndex = {
    def fresh(s: Snapshot) = indexTtlMs > 0 && System.currentTimeMillis() - s.listedAtMs < indexTtlMs
    snapshot match {
      case Some(s) if fresh(s) => s.index
      case _ => indexLock.synchronized {
        snapshot match {
          case Some(s) if fresh(s) => s.index
          case cur => refresh(cur).index
        }
      }
    }
  }

  /** List `time_series/`; load the files no listing has seen into the
    * index, or rebuild it whole when a known file has vanished. */
  private def refresh(cur: Option[Snapshot]): Snapshot = {
    val listedAt = System.currentTimeMillis()
    val listed = seriesFiles()
    val next = cur match {
      case Some(s) if s.files.subsetOf(listed) =>
        val unseen = listed -- s.files
        if (unseen.nonEmpty) s.index.add(loadSeries(unseen.toSeq.map(n => s"$seriesPath/$n")))
        Snapshot(s.index, listed, listedAt)
      case _ =>
        val idx = new LabelIndex
        if (listed.nonEmpty) idx.add(loadSeries(Seq(seriesPath)))
        Snapshot(idx, listed, listedAt)
    }
    snapshot = Some(next)
    next
  }

  private def seriesFiles(): Set[String] =
    try fs.listStatus(new Path(seriesPath)).iterator
      .filter(s => s.isFile && !hidden(s.getPath.getName)).map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  private def loadSeries(paths: Seq[String]): Array[(Long, String)] =
    spark.read.schema(seriesSchema).parquet(paths: _*)
      .collect().map(r => (r.getLong(0), r.getString(1)))

  private def localSeries(series: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(series.map { case (fp, l) => Row(fp, l) }.asJava, seriesSchema)

  private def matched(matchers: Seq[Matcher]): Matched =
    new Matched(index().select(matchers), matchers.isEmpty)

  /** A matched series set and its physical strategy — the reference's
    * 2-tier IN-list/temp-table choice (clickhouse.go:409-412) extended to
    * 4 tiers by matched-set size, known exactly on the driver:
    *  1. ≤ maxSeriesInline: IN filter pushed into parquet row-group stats;
    *  2. ≤ broadcastSeriesLimit: forced broadcast join — the fact table
    *     never shuffles;
    *  3. above that: unhinted join — AQE shuffles rather than OOMs;
    *  4. empty matcher list (every series matches): no pruning at all.
    * Labels attach from the same local relation under the same hint. */
  private final class Matched(val series: Array[(Long, String)], all: Boolean) {
    val inline: Boolean = series.length <= maxSeriesInline
    private val broadcastable = inline || (!all && series.length <= broadcastSeriesLimit)
    def fps: Array[Long] = series.map(_._1)
    private def frame(df: DataFrame) = if (broadcastable) broadcast(df) else df

    /** Restrict a fingerprint-keyed frame to the matched series. */
    def prune(df: DataFrame): DataFrame =
      if (inline) df.where(col("fingerprint").isin(fps: _*))
      else if (all) df
      else df.join(frame(localSeries(series).select("fingerprint")), Seq("fingerprint"), "left_semi")

    /** Join the labels on; being inner, the join also prunes. */
    def attach(df: DataFrame): DataFrame = df.join(frame(localSeries(series)), Seq("fingerprint"))
  }

  override def read(q: Query): DataFrame = {
    val m = matched(q.matchers)
    if (m.series.isEmpty) return emptyFlat(spark)

    // date-prune bounds clamped to the representable timestamp range —
    // unbounded queries (start=0/end=Long.MaxValue, e.g. bulk export) must
    // not overflow timestamp_millis; the exact predicate below still uses
    // the caller's values
    val minDateMs = math.max(q.startMs, -62135596800000L) // 0001-01-01
    val maxDateMs = math.min(q.endMs, 253402300799999L) // 9999-12-31
    val samples = spark.read.schema(samplesReadSchema).parquet(samplesPath)
      .where(col("timestamp_ms") >= q.startMs && col("timestamp_ms") <= q.endMs)
      // partition pruning on the daily date column (both bounds inclusive)
      .where(col("date") >= to_date(timestamp_millis(lit(minDateMs)))
        && col("date") <= to_date(timestamp_millis(lit(maxDateMs))))

    // tier 1 filters before the join; tiers 2-3 prune in the label join
    val pruned =
      if (!m.inline) samples
      else if (fingerprintBuckets > 0)
        // bucketed layout: the fingerprint set maps to a bucket set → hive
        // partition pruning drops whole directories before the row-group
        // stats even get a say
        m.prune(samples.where(col("bucket").isin(
          m.fps.map(f => Math.floorMod(f, fingerprintBuckets.toLong)).distinct: _*)))
      else m.prune(samples)
    m.attach(pruned).select("fingerprint", "timestamp_ms", "value", "labels")
  }
}

object ParquetStore {
  /** The dictionary files' columns the index loads (`date` is not read). */
  private val seriesSchema: StructType = StructType(Seq(
    StructField("fingerprint", LongType, nullable = false),
    StructField("labels", StringType)))

  /** The index together with the `time_series/` files it reflects and the
    * time of the listing that found them. */
  private final case class Snapshot(index: LabelIndex, files: Set[String], listedAtMs: Long)

  /** Names Spark's file listing skips: `_SUCCESS`, staging dirs, `.crc`. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")
}

/** Blackhole store — discards writes, answers every query with an empty
  * result (reference: storages/blackhole/blackhole.go:57-69; S12). Used as
  * the zero-cost sink when exercising the wire/ingest path alone. */
final class BlackholeStore(spark: SparkSession) extends Storage {
  import Storage._
  override protected def session: SparkSession = spark
  override def write(batch: DataFrame): Unit = ()
  override def read(q: Query): DataFrame = emptyFlat(spark)
}

/** In-memory store — the reference's memory storage
  * (storages/memory/memory.go), used by the parametrized functional suite. */
final class MemoryStore(spark: SparkSession) extends Storage {
  import Storage._

  override protected def session: SparkSession = spark

  private var samples: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), samplesSchema)
  private var series: DataFrame = spark.createDataFrame(java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("fingerprint", LongType), StructField("labels", StringType))))

  override def write(batch: DataFrame): Unit = synchronized {
    val (s, d) = prepare(batch)
    samples = samples.union(s).localCheckpoint(eager = true)
    series = series.union(d).dropDuplicates("fingerprint").localCheckpoint(eager = true)
  }

  override def read(q: Query): DataFrame = {
    val matched = series
      .withColumn("labels_map", from_json(col("labels"), MapType(StringType, StringType)))
      .where(MatcherCompiler.compile(col("labels_map"), q.matchers))
      .select(col("fingerprint"), col("labels"))
    samples
      .where(col("timestamp_ms") >= q.startMs && col("timestamp_ms") <= q.endMs)
      .join(broadcast(matched), Seq("fingerprint"))
      .select("fingerprint", "timestamp_ms", "value", "labels")
  }
}
