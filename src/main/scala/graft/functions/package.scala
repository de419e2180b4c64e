package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level API for the engine's custom functions. All are native
  * Catalyst expressions (codegen'd) — no Scala UDF wrapping. */
package object functions {

  import org.apache.spark.sql.graftbridge.{column => col, expression}

  /** FNV-1a 64 fingerprint of a `map<string,string>` labels column. */
  def labels_fingerprint(labels: Column): Column =
    col(LabelsFingerprint(expression(labels)))

  /** Canonical (name-sorted, minimally-escaped) JSON of a labels map. */
  def labels_json(labels: Column): Column =
    col(LabelsCanonicalJson(expression(labels)))

  /** Order-preserving (ts, value) → decimal(38,0) pack; min/max over it
    * hash-aggregates where min/max(struct) would force a SortAggregate. */
  def ts_val_encode(ts: Column, v: Column): Column =
    col(TsValEncode(expression(ts), expression(v)))
  def ts_val_ts(enc: Column): Column = col(TsValTs(expression(enc)))
  def ts_val_v(enc: Column): Column = col(TsValV(expression(enc)))

  /** Order-preserving (long, long) pack — a hash-aggregable min_by/max_by
    * ordering key where a struct key would force SortAggregate. */
  def long_pair_encode(a: Column, b: Column): Column =
    col(LongPairEncode(expression(a), expression(b)))

  /** Membership of a long column in a fingerprint set, by binary search
    * over the sorted, distinct array; one generated class for every set
    * (see [[FingerprintIn]]). */
  def fingerprint_in(fingerprint: Column, sorted: Array[Long]): Column = {
    require((1 until sorted.length).forall(i => sorted(i - 1) < sorted(i)),
      "fingerprint_in expects a strictly ascending set")
    col(FingerprintIn(expression(fingerprint), sorted))
  }

  /** DDSketch quantile partial over a group's double values → binary
    * (deterministic, merge-order-independent; see [[DDOps]]). */
  def dd_hist(v: Column, alpha: Double = DDOps.DefaultAlpha): Column =
    col(DDHistAgg(expression(v), alpha).toAggregateExpression())

  /** Re-merge serialized [[dd_hist]] sketches (rollup partial combine). */
  def dd_hist_merge(h: Column): Column =
    col(DDHistMergeAgg(expression(h)).toAggregateExpression())

  /** q-quantile from sketch bytes, within relative error α of a true
    * value; null for an empty sketch. */
  def dd_quantile(h: Column, q: Double): Column =
    col(DDQuantile(expression(h), q))

  /** Misra–Gries frequent-items summary over a group's string terms →
    * binary (constant-size mergeable partials; see [[MGOps]]). */
  def freq_sketch(t: Column, capacity: Int = MGOps.DefaultCapacity): Column =
    col(FreqSketchAgg(expression(t), capacity).toAggregateExpression())

  /** Re-merge serialized [[freq_sketch]] summaries. */
  def freq_sketch_merge(s: Column): Column =
    col(FreqSketchMergeAgg(expression(s)).toAggregateExpression())

  /** Summary counters as array<struct<term,est>>, (est desc, term asc);
    * estimates under-count by at most n/(capacity+1). */
  def freq_items(s: Column): Column = col(FreqItems(expression(s)))

  /** Total values a summary processed (derives the error bound). */
  def freq_n(s: Column): Column = col(FreqN(expression(s)))

  /** Bits for a Bloom filter holding `n` items at false-positive rate
    * `fpp` (standard m = -n·ln p / ln²2), clamped to ≥64. */
  def bloomNumBits(n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0 && fpp < 1, s"bloom_agg: need n>0, 0<fpp<1 (got $n, $fpp)")
    math.max(64L, math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** Bloom-filter aggregate over pre-hashed 64-bit values (feed
    * `xxhash64(x)`) → serialized filter bytes. Spark's own
    * `BloomFilterAggregate` — the same sketch the runtime-filter optimizer
    * injects, here exposed for explicit set-membership pre-filters (d8):
    * a bounded key set (eval-suite n-grams, a keep-list, a block-list)
    * collapses to `bloomNumBits/8` bytes that prune a 100 TB probe side
    * map-side BEFORE any join shuffle. No false negatives, so an exact
    * join on survivors reproduces exact semantics. */
  def bloom_agg(hashed: Column, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    col(new BloomFilterAggregate(expression(hashed), Literal(expectedItems),
      Literal(bloomNumBits(expectedItems, fpp))).toAggregateExpression())
  }

  /** Membership probe against [[bloom_agg]] bytes (a foldable literal or
    * scalar subquery); value side must be the same `xxhash64` hashing used
    * at build. True = maybe present (fpp chance), false = definitely not. */
  def bloom_might_contain(bloom: Column, hashed: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(hashed)))

  /** Register SQL names for all custom functions on a session — the full
    * table (with `DESCRIBE FUNCTION` info and literal-argument validation)
    * lives in [[graft.plans.GraftFunctions]]; config-driven sessions get
    * the same set via `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def registerAll(spark: SparkSession): Unit =
    graft.plans.GraftFunctions.register(spark)
}
