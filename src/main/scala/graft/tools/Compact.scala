package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Store compaction — the engine's stand-in for ClickHouse's background
  * merges (the reference leans on MergeTree merging + ReplacingMergeTree
  * dedup; a lake store must do it explicitly, SCALE.md §7):
  *
  *  - `samples/`: rewrite each day partition re-sorted by (fingerprint,
  *    timestamp_ms) — many per-batch appended files become one sorted file
  *    per day per shuffle task, restoring tight row-group fingerprint
  *    stats after unordered appends. Embarrassingly parallel by day.
  *  - `time_series/`: collapse duplicate fingerprints (cross-writer races
  *    are tolerated at write time; compaction makes read-side
  *    `dropDuplicates` a no-op).
  *
  * Usage: runMain graft.tools.Compact <storeRoot>
  *
  * Live `ParquetStore` instances serving the same root reload their driver
  * series index from the rewritten files at their next listing (within one
  * index TTL: the files they knew have vanished), or at once after
  * `invalidateIndex()`.
  */
object Compact {

  /** Rollup retention policy: buckets younger than `horizonMs` keep the
    * table's native step; older buckets are re-merged to `coarseStepMs`
    * (must be a multiple of the native step; the partials algebra makes
    * the coarsening EXACT — cnt/sum/sum_sq add, min/max combine,
    * first/last pack-merge, sketches merge), or DROPPED when
    * `coarseStepMs <= 0`. This bounds a year-long stream's partial-row
    * count: a 15 s-step rollup coarsened to 1 h past 30 days carries
    * 240× fewer rows for the tail than an unbounded table.
    *
    * Resolution contract: hinted reads at steps that are multiples of
    * `coarseStepMs` are UNCHANGED over the whole range (ToolsSpec pins
    * this); hints finer than the coarse step over the aged range can only
    * be answered at coarse alignment — the caller's re-filter (hints are
    * advisory, bucket-aligned semantics) sees coarser buckets there, the
    * same trade every downsampling TSDB retention makes.
    * `nowMs` is injectable for deterministic tests. */
  case class RollupRetention(horizonMs: Long, coarseStepMs: Long,
      nowMs: Option[Long] = None)

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.error("usage: Compact <storeRoot> [rollupStepMs] [filesPerDay] [retentionMs coarseStepMs]"))
    val stepOverride = args.lift(1).map(_.toLong)
    val filesPerDay = args.lift(2).map(_.toInt).getOrElse(1)
    // the pair is required together: defaulting a missing coarseStepMs to
    // 0 would silently select DROP mode — a destructive policy must be
    // spelled out (pass an explicit 0 to drop aged buckets)
    val retention = args.lift(3).map(_.toLong).map { h =>
      val coarse = args.lift(4).map(_.toLong).getOrElse(sys.error(
        "retentionMs requires an explicit coarseStepMs (0 = DROP aged buckets; " +
          "n = re-merge them to n ms buckets)"))
      RollupRetention(h, coarse)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Engine.install(spark)
    run(spark, root, stepOverride, filesPerDay, retention)
    spark.stop()
  }

  /** @param filesPerDay target output files per day partition. 1 (default)
    *   funnels each day through one sort+compress task — maximal compression
    *   and a single file to prune, right for laptop/day-scale stores. At
    *   100 TB a day does not fit one task: set this to ~day-bytes/1 GB and
    *   days are RANGE-split by fingerprint — each file covers a disjoint
    *   fingerprint range, so point lookups still touch one file per day. */
  def run(spark: SparkSession, root: String, rollupStepMs: Option[Long] = None,
      filesPerDay: Int = 1, retention: Option[RollupRetention] = None): Unit = {
    val stage = s"$root/.compact_stage"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // samples: day-partitioned re-sort (bucket-partitioned too when the
    // store uses the fingerprint-bucketed layout). Stage-then-swap so a
    // crash mid-job leaves the live tree untouched.
    val samples = spark.read.parquet(s"$root/samples")
    val sampleParts =
      if (samples.columns.contains("bucket")) Seq("date", "bucket") else Seq("date")
    // bucketed layouts are already split within each day by the bucket
    // column; otherwise filesPerDay > 1 range-splits days by fingerprint
    val arranged =
      if (filesPerDay <= 1 || sampleParts.contains("bucket"))
        samples.repartition(sampleParts.map(col): _*)
      else {
        val days = samples.select("date").distinct().count()
        samples.repartitionByRange(
          math.max(1, (days * filesPerDay).min(1 << 20).toInt),
          col("date"), col("fingerprint"))
      }
    arranged
      .sortWithinPartitions("fingerprint", "timestamp_ms")
      .write.mode(SaveMode.Overwrite).partitionBy(sampleParts: _*)
      .option("compression", "zstd").parquet(s"$stage/samples")

    // series dictionary: one row per fingerprint, earliest sighting date
    // (matches ReplacingMergeTree keeping a single row per key)
    val series = spark.read.parquet(s"$root/time_series")
    series
      .groupBy("fingerprint")
      .agg(min("date").as("date"), first("labels").as("labels"))
      .select("date", "fingerprint", "labels")
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$stage/time_series")

    // rollup (when the store maintains one): merge per-batch partial rows
    // to one row per (fingerprint, bucket) — read-side re-merge becomes a
    // no-op, same algebraic combine the read path uses
    val rollupLive = new org.apache.hadoop.fs.Path(s"$root/samples_rollup")
    val hasRollup = fs.exists(rollupLive)
    if (hasRollup) {
      val rollup = spark.read.option("mergeSchema", "true").parquet(s"$root/samples_rollup")
      // migration/backfill: rollup files written before the schema grew the
      // first/last partials (or a mixed old+new dir — old rows read those
      // columns as null) cannot serve last/rate/increase/delta hints, and
      // first/last can't be reconstructed from algebraic partials. The raw
      // samples CAN rebuild them — one rollupPartials pass at the table's
      // own step (inferred as the gcd of the step-aligned bucket keys, or
      // passed explicitly). After one compaction the dir is uniformly
      // new-schema and the hinted read re-enables the first/last funcs.
      val newSchema = Seq("first_ts", "first_v", "last_ts", "last_v", "hist", "sum_sq")
        .forall(rollup.columns.contains)
      val needsBackfill = !newSchema ||
        rollup.where(col("first_ts").isNull || col("hist").isNull ||
          col("sum_sq").isNull).limit(1).count() > 0
      val compacted =
        if (!needsBackfill)
          // same algebraic combine the read path uses (Storage.mergeRollup
          // at the rollup's own granularity = pure partial-row merge)
          graft.storage.Storage.mergeRollup(rollup, stepMs = 1L)
            .withColumnRenamed("timestamp_ms", "bucket_ms")
        else {
          val step = rollupStepMs.getOrElse {
            @annotation.tailrec
            def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
            // every bucket_ms is a multiple of the true step; the gcd of a
            // sample of them is m*step (m=1 with overwhelming probability
            // given many buckets) — an overestimate only coarsens the
            // rebuilt rollup, never corrupts it
            val bs = rollup.select("bucket_ms").distinct().limit(10000)
              .collect().map(r => math.abs(r.getLong(0))).filter(_ != 0)
            require(bs.nonEmpty, "cannot infer rollup step (all buckets at 0); pass rollupStepMs")
            bs.reduce(gcd)
          }
          println(s"[compact] rollup lacks first/last partials; rebuilding from raw samples at step=${step}ms")
          graft.storage.Storage.rollupPartials(
            samples.select("fingerprint", "timestamp_ms", "value"), step)
        }
      // retention: native-step rows inside the horizon; aged buckets
      // re-merged to the coarse step (exact partials algebra) or dropped
      val retained = retention match {
        case None => compacted
        case Some(r) =>
          if (r.coarseStepMs > 0) {
            // enforce the documented multiple-of-native-step contract —
            // a non-multiple coarse step would floor native buckets
            // across boundaries and silently break the hinted-read
            // stability ToolsSpec pins. Native step: as passed, or
            // inferred from the bucket keys exactly like the backfill.
            val native = rollupStepMs.getOrElse {
              @annotation.tailrec
              def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
              val bs = rollup.select("bucket_ms").distinct().limit(10000)
                .collect().map(r0 => math.abs(r0.getLong(0))).filter(_ != 0)
              if (bs.isEmpty) 1L else bs.reduce(gcd)
            }
            require(r.coarseStepMs % native == 0,
              s"retention coarseStepMs=${r.coarseStepMs} must be a multiple of the " +
                s"rollup's native step (${native} ms)")
          }
          val cut = r.nowMs.getOrElse(System.currentTimeMillis()) - r.horizonMs
          val recent = compacted.where(col("bucket_ms") >= cut)
          if (r.coarseStepMs <= 0) recent
          else recent.unionByName(
            graft.storage.Storage
              .mergeRollup(compacted.where(col("bucket_ms") < cut), r.coarseStepMs)
              .withColumnRenamed("timestamp_ms", "bucket_ms"))
      }
      retained
        .withColumn("date", to_date(timestamp_millis(col("bucket_ms"))))
        .select(col("fingerprint"), col("bucket_ms"), col("cnt"), col("min_v"),
          col("max_v"), col("sum_v"), col("sum_sq"), col("first_ts"), col("first_v"),
          col("last_ts"), col("last_v"), col("hist"), col("date"))
        .repartition(col("date"))
        .sortWithinPartitions("fingerprint", "bucket_ms")
        .write.mode(SaveMode.Overwrite).partitionBy("date")
        .option("compression", "zstd").parquet(s"$stage/samples_rollup")
    }

    def swap(name: String): Unit = {
      val live = new org.apache.hadoop.fs.Path(s"$root/$name")
      val old = new org.apache.hadoop.fs.Path(s"$root/.old_$name")
      val staged = new org.apache.hadoop.fs.Path(s"$stage/$name")
      if (fs.exists(old)) fs.delete(old, true)
      fs.rename(live, old)
      fs.rename(staged, live)
      fs.delete(old, true)
    }
    swap("samples")
    swap("time_series")
    if (hasRollup) swap("samples_rollup")
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Compact the streaming near-dup BASE signature table
    * (graft.streaming.DocStream.startNearDupSink appends one small file
    * set per micro-batch — a day of 5 s triggers leaves ~17 k file
    * groups whose footers alone dominate the probe's scan planning).
    * Rewrite range-partitioned and sorted by doc_id into `files` files
    * with the same staged atomic swap the store tables use.
    * Content-preserving by construction: the sink's replay idempotence
    * means the base carries no duplicate doc_ids to collapse, so this
    * is purely a file-layout rewrite (ToolsSpec pins set equality and
    * that the LSH probe answers identically afterwards). */
  /** Compact the streaming line-count index
    * (graft.streaming.DocStream.startLineCountSink appends one
    * `batch_id=<id>` partition directory per micro-batch — same unbounded
    * file-group growth as the near-dup base, with the extra twist that the
    * per-line counts are ADDITIVE deltas). Fold every delta into one
    * pre-aggregated (line, cnt) table, range-partitioned and sorted by
    * line into `files` files, landed under the RESERVED `batch_id=-1`
    * partition (real batch ids are ≥ 0) with the same staged atomic swap:
    *
    *  - [[graft.streaming.DocStream.lineIndex]] answers identically — it
    *    re-aggregates whatever partitions exist (StreamingSpec pins
    *    parity);
    *  - the sink's replay-overwrite idempotence contract survives — a
    *    post-restart batch N overwrites its OWN partition, never the
    *    compacted one.
    *
    * Run against a cleanly stopped (or between-triggers) sink: a delta
    * directory mid-write would be folded half-complete. Probe-side win is
    * the same as nearDupBase: one sorted bounded file set instead of a
    * directory per micro-batch forever. */
  def lineCountBase(spark: SparkSession, basePath: String, files: Int = 8): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val stage = new org.apache.hadoop.fs.Path(basePath + ".compact_stage")
    spark.read.parquet(basePath) // batch_id discovered as a partition column
      .groupBy("line").agg(sum(col("cnt")).as("cnt"))
      .repartitionByRange(files, col("line"))
      .sortWithinPartitions("line")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(s"$stage/batch_id=-1")
    val old = new org.apache.hadoop.fs.Path(basePath + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    fs.rename(base, old)
    fs.rename(stage, base)
    fs.delete(old, true)
  }

  /** Fold the postings-delta partitions of
    * [[graft.streaming.DocStream.startPostingsSink]] into one merged,
    * term-sorted tier (same staged atomic swap as [[lineCountBase]]) —
    * after compaction each term holds exactly one (df, page) row again. */
  def postingsBase(spark: SparkSession, basePath: String, files: Int = 8,
      page: Int = 100): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val stage = new org.apache.hadoop.fs.Path(basePath + ".compact_stage")
    graft.streaming.DocStream.postingsIndex(spark, basePath, page)
      .repartitionByRange(files, col("term"))
      .sortWithinPartitions("term")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(s"$stage/batch_id=-1")
    val old = new org.apache.hadoop.fs.Path(basePath + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    fs.rename(base, old)
    fs.rename(stage, base)
    fs.delete(old, true)
  }

  /** Schema-agnostic streaming-dedup base compaction: per-micro-batch
    * appends → a bounded sorted file set, staged atomic swap. Serves
    * BOTH streaming dedup bases — the text signature base
    * ([[graft.streaming.DocStream.startNearDupSink]]) and the perceptual
    * hash base ([[graft.streaming.MediaStream.startPerceptualSink]]).
    * Compaction folds every `delta/batch_id=` directory into the sorted
    * hive-partitioned tier (`sigs|hashes/db=` + `bands/kb=`) and derives
    * the band index; the fold itself lives on the stream objects (they
    * own the layout). A LEGACY flat base — root-level (doc_id-keyed)
    * parquet written by the pre-two-tier sink — is migrated here first:
    * the probes read only delta/ + compacted tiers, so flat rows left at
    * the root would be silently invisible and every dup family they
    * represent would be re-admitted. Migration renames the root data
    * files into the reserved `delta/batch_id=-2` partition (real batch
    * ids are ≥ 0; `-1` is the line-count compaction tier) and the fold
    * below absorbs them — crash-safe because a half-moved base is still
    * just flat-files + a delta dir, and re-running converges. Compaction
    * only re-lays files, never re-keys. Run against a stopped (or
    * between-triggers) sink. */
  def nearDupBase(spark: SparkSession, basePath: String, files: Int = 8): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    def has(sub: String) = fs.exists(new org.apache.hadoop.fs.Path(base, sub))
    val legacy = fs.listStatus(base).filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    }
    if (legacy.nonEmpty) {
      val mig = new org.apache.hadoop.fs.Path(s"$basePath/delta/batch_id=-2")
      fs.mkdirs(mig)
      legacy.foreach { st =>
        if (!fs.rename(st.getPath, new org.apache.hadoop.fs.Path(mig, st.getPath.getName)))
          throw new java.io.IOException(s"legacy base migration: rename failed for ${st.getPath}")
      }
    }
    if (has("delta") || has("sigs") || has("hashes") || has("bands")) {
      // tier kind is told by which content store exists, or by the delta
      // schema for a never-compacted (or just-migrated) base
      val isText =
        if (has("sigs")) true
        else if (has("hashes")) false
        else spark.read.parquet(s"$basePath/delta").columns.contains("sh")
      if (isText) graft.streaming.DocStream.foldCompact(spark, basePath)
      else graft.streaming.MediaStream.foldCompact(spark, basePath)
    }
  }
}
