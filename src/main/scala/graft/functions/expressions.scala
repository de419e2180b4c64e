package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers invoked from both interpreted eval and generated code.
  * Operating on UTF8String bytes directly avoids a UTF-16 round-trip on the
  * per-row ingest hot path, and makes the name sort byte-lexicographic,
  * exactly like the reference's Go `sort.Strings` on UTF-8 strings
  * (reference: utils/timeseries/timeseries.go:26-28).
  */
object LabelOps {
  import graft.core.Fingerprint.{Offset64, Prime64}

  @inline private def hashBytes(h0: Long, s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime64
      i += 1
    }
    h
  }

  /** Sort (by binary name order) and return index permutation of map entries. */
  private def sortedIndices(keys: Array[UTF8String]): Array[Int] = {
    val idx = Array.tabulate(keys.length)(identity)
    // insertion sort: label sets are tiny (typically < 20 entries)
    var i = 1
    while (i < idx.length) {
      val v = idx(i)
      var j = i - 1
      while (j >= 0 && keys(idx(j)).compareTo(keys(v)) > 0) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = v
      i += 1
    }
    idx
  }

  private def mapEntries(map: MapData): (Array[UTF8String], Array[UTF8String]) = {
    val n = map.numElements()
    val ks = new Array[UTF8String](n)
    val vs = new Array[UTF8String](n)
    val ka = map.keyArray(); val va = map.valueArray()
    var i = 0
    while (i < n) {
      ks(i) = ka.getUTF8String(i)
      vs(i) = if (va.isNullAt(i)) UTF8String.EMPTY_UTF8 else va.getUTF8String(i)
      i += 1
    }
    (ks, vs)
  }

  /** FNV-1a 64 fingerprint of a labels map (sorts by name internally). */
  def fingerprintMap(map: MapData): Long = {
    val n = map.numElements()
    if (n == 0) return Offset64
    val (ks, vs) = mapEntries(map)
    val order = sortedIndices(ks)
    var h = Offset64
    var i = 0
    while (i < n) {
      val o = order(i)
      h = hashBytes(h, ks(o))
      h = (h ^ 0xffL) * Prime64
      h = hashBytes(h, vs(o))
      h = (h ^ 0xffL) * Prime64
      i += 1
    }
    h
  }

  /** Canonical (name-sorted) one-line JSON of a labels map; see
    * [[graft.core.LabelsJson]] for the escaping contract. */
  def canonicalJsonMap(map: MapData): UTF8String = {
    val n = map.numElements()
    if (n == 0) return UTF8String.fromString("{}")
    val (ks, vs) = mapEntries(map)
    val order = sortedIndices(ks)
    val names = new Array[String](n)
    val values = new Array[String](n)
    var i = 0
    while (i < n) {
      names(i) = ks(order(i)).toString
      values(i) = vs(order(i)).toString
      i += 1
    }
    UTF8String.fromString(graft.core.LabelsJson.marshalMap(names, values))
  }
}

/** Order-preserving (timestamp, value) → Decimal(38,0) codec for first/last
  * aggregation. `min/max(struct(ts, v))` is the natural formulation but a
  * struct aggregation buffer forces SortAggregateExec — the whole rollup
  * stage then SORTS its input instead of hash-aggregating (measured 0.5 s
  * per 2.5 M rows vs ~0.05 s hashed). A Decimal(38,0) buffer stays in
  * HashAggregateExec, so the pair is packed into one decimal whose numeric
  * order equals the struct's lexicographic (ts, v) order:
  *
  *   enc = (ts − MinTs) · 2⁶⁴ + (sortable(v) + 2⁶³)
  *
  * where sortable(v) = bits ^ ((bits >> 63) & 0x7fff…f), bits =
  * doubleToRawLongBits(v) — the standard monotone IEEE-754 reindexing
  * (signed-long order ≡ Double.compare order for non-NaN: −0.0 < 0.0).
  * RAW bits, not canonicalized: the decode round-trip is then bit-exact
  * for every NaN payload (e.g. Prometheus's staleness marker
  * 0x7ff0000000000002), so rollup-served first/last returns the same
  * bytes raw-parquet serving does. Ordering among distinct NaN payloads
  * is payload-dependent but deterministic and total (positive-sign NaNs
  * sort above +Inf, negative-sign NaNs below −Inf) — ties on (ts, v)
  * still break identically on every merge path. ts bounds admit
  * MICROsecond epochs of years 1–9999 (the Go
  * time.Time clamp range at µs resolution — ms epochs are a subset), so
  * enc ≤ 3.2e17 · 2⁶⁴ < 6e36 — exact in 38 digits. Encode runs per input
  * row (a few flops + one small BigInteger); decode runs once per output
  * bucket. */
object PairOps {
  /** Years 1–9999 at microsecond resolution; millisecond epochs (the
    * store's own clamp range, 1000× smaller) are inside these bounds. */
  val MinTs: Long = -62135596800000000L
  val MaxTs: Long = 253402300799999999L
  private val Two63 = java.math.BigInteger.ONE.shiftLeft(63)

  def encode(ts: Long, v: Double): Decimal = {
    if (ts < MinTs || ts > MaxTs)
      throw new IllegalArgumentException(
        s"timestamp_ms $ts outside the representable range [$MinTs, $MaxTs]")
    val bits = java.lang.Double.doubleToRawLongBits(v)
    val sortable = bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
    val enc = java.math.BigInteger.valueOf(ts - MinTs).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(sortable).add(Two63))
    Decimal(new java.math.BigDecimal(enc), 38, 0)
  }

  /** (a, b) lexicographic pack of two longs — same layout with b's signed
    * order offset into the low 64 bits (no IEEE reindexing). */
  def encodeLongs(a: Long, b: Long): Decimal = {
    if (a < MinTs || a > MaxTs)
      throw new IllegalArgumentException(
        s"first pack key $a outside the representable range [$MinTs, $MaxTs]")
    val enc = java.math.BigInteger.valueOf(a - MinTs).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(b).add(Two63))
    Decimal(new java.math.BigDecimal(enc), 38, 0)
  }

  def decodeTs(enc: Decimal): Long =
    enc.toJavaBigDecimal.toBigInteger.shiftRight(64).longValueExact() + MinTs

  def decodeV(enc: Decimal): Double = {
    val lo = enc.toJavaBigDecimal.toBigInteger // low 64 bits, unsigned
    val sortable = lo.subtract(Two63).longValue() // mod-2^64 of (enc − 2^63)
    // the reindexing is an involution: same xor-mask recovers the bits
    val bits = sortable ^ ((sortable >> 63) & 0x7fffffffffffffffL)
    java.lang.Double.longBitsToDouble(bits)
  }
}

/** `ts_val_encode(long, double) -> decimal(38,0)` — see [[PairOps]]. */
case class TsValEncode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ts_val_encode expects (long, double), got $other")
    }
  override def nullSafeEval(ts: Any, v: Any): Any =
    PairOps.encode(ts.asInstanceOf[Long], v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, v) => s"graft.functions.PairOps.encode($t, $v)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TsValEncode =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "ts_val_encode"
}

/** `long_pair_encode(long, long) -> decimal(38,0)` — order-preserving pack
  * of two longs (first bounded to [[PairOps.MinTs]]..[[PairOps.MaxTs]],
  * second unrestricted): numeric order ≡ (a, b) lexicographic order. Used
  * as a hash-aggregable `min_by`/`max_by` ordering key where a struct key
  * would force SortAggregate. */
case class LongPairEncode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"long_pair_encode expects (long, long), got $other")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    PairOps.encodeLongs(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PairOps.encodeLongs($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongPairEncode =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "long_pair_encode"
}

/** `ts_val_ts(decimal(38,0)) -> long` — timestamp half of [[PairOps]]. */
case class TsValTs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PairOps.decodeTs(input.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairOps.decodeTs($c)")
  override protected def withNewChildInternal(newChild: Expression): TsValTs =
    copy(child = newChild)
  override def prettyName: String = "ts_val_ts"
}

/** `ts_val_v(decimal(38,0)) -> double` — value half of [[PairOps]]. */
case class TsValV(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    PairOps.decodeV(input.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairOps.decodeV($c)")
  override protected def withNewChildInternal(newChild: Expression): TsValV =
    copy(child = newChild)
  override def prettyName: String = "ts_val_v"
}

/** `labels_fingerprint(map<string,string>) -> long` — the Prometheus series
  * identity (reference: utils/timeseries/fingerprint.go:39-76). Codegen
  * emits a static call so whole-stage codegen stays intact. */
case class LabelsFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case MapType(StringType, StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"labels_fingerprint expects map<string,string>, got ${other.sql}")
    }
  override def nullSafeEval(input: Any): Any =
    LabelOps.fingerprintMap(input.asInstanceOf[MapData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LabelOps.fingerprintMap($c)")
  override protected def withNewChildInternal(newChild: Expression): LabelsFingerprint =
    copy(child = newChild)
  override def prettyName: String = "labels_fingerprint"
}

/** `labels_json(map<string,string>) -> string` — canonical name-sorted JSON
  * (reference: storages/clickhouse/json.go:27-65). */
case class LabelsCanonicalJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case MapType(StringType, StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"labels_json expects map<string,string>, got ${other.sql}")
    }
  override def nullSafeEval(input: Any): Any =
    LabelOps.canonicalJsonMap(input.asInstanceOf[MapData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LabelOps.canonicalJsonMap($c)")
  override protected def withNewChildInternal(newChild: Expression): LabelsCanonicalJson =
    copy(child = newChild)
  override def prettyName: String = "labels_json"
}

/** `fingerprint_in(long, sorted long[]) -> boolean` — membership in a
  * matched series set by binary search over a primitive array. The array
  * is bound into generated code as a reference object, so the generated
  * class does not depend on the set: every set of every size shares one
  * compiled class, where Spark's `InSet` inlines up to 400 values into a
  * switch (one compile per set) and hashes boxed longs above that. */
case class FingerprintIn(child: Expression, fingerprints: Array[Long])
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.Predicate {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fingerprint_in expects a long column, got ${child.dataType.sql}")
  override def nullSafeEval(input: Any): Any =
    java.util.Arrays.binarySearch(fingerprints, input.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("fingerprints", fingerprints, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($set, $c) >= 0")
  }
  override protected def withNewChildInternal(newChild: Expression): FingerprintIn =
    copy(child = newChild)
  override def prettyName: String = "fingerprint_in"
  // the set itself stays out of plan strings
  override def toString: String = s"$prettyName($child, ${fingerprints.length} fingerprints)"
  override def sql: String = s"$prettyName(${child.sql}, ${fingerprints.length} fingerprints)"
}
