package perfbench

import graft.model.{Label, MatchType, Matcher, Query, ReadHints, Sample, TimeSeries}

/** The load generator's own model of the store: every request the
  * benchmark sends, and every answer the server owes, is a pure function
  * of the seed. Nothing here reads the server's state.
  *
  * Shape (FakeExporter-like): `Metrics` metric names fanned out over a
  * sliding window of `Live` instances, labels `__name__`, `instance` and
  * `job`. Write request `k` carries every live series of step `k` with
  * `SamplesPerSeries` samples at 1 s spacing, covering its own disjoint
  * 10 s time window. Each step retires the `Churn` oldest instances and
  * adds `Churn` new ones, so ~5 % of a request's series are new to the
  * store.
  */
final class Model(val seed: Long) {
  import Model._

  private val h0 = mix(seed)
  /** Instance ids and the time origin move with the seed, so the
    * fingerprints and the file layout differ from seed to seed. */
  val idBase: Long = (mix(h0 ^ 1L) >>> 1) % 100000L
  val t0: Long = DayMs + 3600000L + ((mix(h0 ^ 2L) >>> 1) % 3600L) * 1000L

  def metricName(m: Int): String = f"node_metric_$m%02d_total"
  def instanceName(id: Int): String = s"instance-${idBase + id}"

  /** Instance ids live during step `k`. */
  def ids(k: Int): Range = (k * Churn) until (k * Churn + Live)
  def ts(k: Int, j: Int): Long = t0 + k * StepSpanMs + j * SampleStepMs
  def windowStart(k: Int): Long = ts(k, 0)
  def windowEnd(k: Int): Long = ts(k, SamplesPerSeries - 1)
  /** The write step whose window holds `ts`. */
  def stepOf(ts: Long): Int = ((ts - t0) / StepSpanMs).toInt

  def labels(m: Int, id: Int): Seq[Label] =
    Seq(Label("__name__", metricName(m)), Label("instance", instanceName(id)), Label("job", Job))

  def value(m: Int, id: Int, ts: Long): Double = {
    val h = mix(h0 ^ (m.toLong * 0x9e3779b97f4a7c15L) ^ (id.toLong << 20) ^ ts)
    (ts - t0) / 1000.0 * (m + 1) + (h >>> 11).toDouble / (1L << 53).toDouble
  }

  def writeRequest(k: Int): Seq[TimeSeries] =
    for (m <- 0 until Metrics; id <- ids(k))
      yield TimeSeries(labels(m, id),
        (0 until SamplesPerSeries).map(j => Sample(ts(k, j), value(m, id, ts(k, j)))))

  // ---- the read mix ----

  /** The `i`-th read over the steps `[from, until)` (all of them stored).
    * Kinds follow a plain rotation of [[ReadKinds]], one of each, and
    * every query asks for the whole window of those steps; the seed picks
    * metrics and instances. */
  def read(i: Int, from: Int, until: Int): Read = {
    val r = new Rng(mix(h0 ^ 0x5eadL ^ (i.toLong << 32) ^ (from.toLong << 16) ^ until))
    val (s, e) = (windowStart(from), windowEnd(until - 1))
    def metric(): String = metricName(r.below(Metrics))
    def liveInstance(): String = {
      val k = from + r.below(until - from)
      instanceName(ids(k).start + r.below(Live))
    }
    def name(n: String) = Matcher("__name__", MatchType.Eq, n)
    def single(): Query = Query(s, e, Seq(name(metric()), Matcher("instance", MatchType.Eq, liveInstance())))
    def byMetric(): Query = Query(s, e, Seq(name(metric())))
    def regex(): Query =
      Query(s, e, Seq(name(metric()), Matcher("instance", MatchType.Re, s"instance-.*[${r.below(10)}]")))
    ReadKinds(Math.floorMod(i, ReadKinds.size)) match {
      case "single" => Read("single", Seq(single()))
      case "metric" => Read("metric", Seq(byMetric()))
      case "regex" => Read("regex", Seq(regex()))
      case "negative" =>
        Read("negative", Seq(Query(s, e, Seq(name(metric()),
          Matcher("instance", MatchType.Nre, s"instance-.*[${r.below(5)}${5 + r.below(5)}]")))))
      case "batch" => Read("batch", Seq(single(), regex(), byMetric()))
      case "avg_over_time" =>
        Read("avg_over_time", Seq(Query(s, e,
          Seq(name(metric()), Matcher("instance", MatchType.Re, s"instance-.*[${r.below(10)}]")),
          Some(ReadHints(HintStepMs, "avg_over_time", s, e)))))
      case "no_match" =>
        Read("no_match", Seq(Query(s, e, Seq(name("node_metric_absent_total")))))
    }
  }

  // ---- the oracle ----

  /** The exact answer to `q` over a store holding exactly the steps
    * `[from, until)`, in the wire order: series by (metric name, unsigned
    * fingerprint), labels by name, samples by time. Hinted
    * `avg_over_time` queries answer per-step means. */
  def answer(q: Query, from: Int, until: Int): Seq[TimeSeries] = {
    val matchers = q.matchers.map(m => (m, compile(m)))
    val ms = (0 until Metrics).filter { m =>
      matchers.forall { case (mt, p) => mt.name != "__name__" || p(metricName(m)) }
    }
    val idLo = ids(from).start
    val idHi = ids(until - 1).end
    val series = for {
      m <- ms
      id <- idLo until idHi
      ls = labels(m, id)
      if matchers.forall { case (mt, p) => p(ls.find(_.name == mt.name).map(_.value).getOrElse("")) }
      samples = (from until until).filter(k => ids(k).contains(id))
        .flatMap(k => (0 until SamplesPerSeries).map(j => ts(k, j)))
        .filter(t => t >= q.startMs && t <= q.endMs)
        .map(t => Sample(t, value(m, id, t)))
      if samples.nonEmpty
    } yield TimeSeries(ls, q.hints match {
      case Some(h) if h.func == "avg_over_time" && h.stepMs > 0 =>
        samples.groupBy(s => s.timestampMs - Math.floorMod(s.timestampMs, h.stepMs)).toSeq
          .sortBy(_._1).map { case (b, ss) => Sample(b, ss.map(_.value).sum / ss.size) }
      case _ => samples
    })
    series.sortBy(ts => (ts.labels.head.value, graft.core.Fingerprint.of(ts.labels) ^ Long.MinValue))
  }

  /** First difference between an answer and the model's, or None. */
  def diff(got: Seq[TimeSeries], want: Seq[TimeSeries], approx: Boolean): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} series, want ${want.size}")
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.labels != w.labels =>
        s"series $i labels ${show(g.labels)}, want ${show(w.labels)}"
      case ((g, w), i) if g.samples.size != w.samples.size =>
        s"series $i ${show(w.labels)}: ${g.samples.size} samples, want ${w.samples.size}"
      case ((g, w), i) if g.samples.zip(w.samples).exists { case (a, b) =>
          a.timestampMs != b.timestampMs || !close(a.value, b.value, approx) } =>
        val (a, b) = g.samples.zip(w.samples).find { case (a, b) =>
          a.timestampMs != b.timestampMs || !close(a.value, b.value, approx) }.get
        s"series $i ${show(w.labels)}: sample $a, want $b"
    }
  }

  private def close(a: Double, b: Double, approx: Boolean): Boolean =
    if (approx) math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    else java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def show(ls: Seq[Label]): String = ls.map(l => s"""${l.name}="${l.value}"""").mkString("{", ",", "}")

  /** Prometheus matcher semantics, written independently of the engine's
    * compiler: regexes are fully anchored, a missing label reads as "". */
  private def compile(m: Matcher): String => Boolean = m.matchType match {
    case MatchType.Eq => _ == m.value
    case MatchType.Neq => _ != m.value
    case MatchType.Re => val p = java.util.regex.Pattern.compile(s"^(?:${m.value})$$"); p.matcher(_).matches()
    case MatchType.Nre => val p = java.util.regex.Pattern.compile(s"^(?:${m.value})$$"); !p.matcher(_).matches()
  }
}

object Model {
  /** One read request: a kind name (for the artifact) and its queries. */
  final case class Read(kind: String, queries: Seq[Query])

  val Metrics = 50
  val Live = 200
  val Churn = 10
  val SamplesPerSeries = 10
  val SampleStepMs = 1000L
  val StepSpanMs: Long = SamplesPerSeries * SampleStepMs
  val HintStepMs = 5000L
  /** The read kinds, in rotation order. */
  val ReadKinds: IndexedSeq[String] =
    IndexedSeq("single", "metric", "regex", "negative", "batch", "avg_over_time", "no_match")
  val Job = "fake_exporter"
  val SeriesPerRequest: Int = Metrics * Live
  val SamplesPerRequest: Int = SeriesPerRequest * SamplesPerSeries
  /** 2024-01-01T00:00:00Z; every run stays inside this UTC day. */
  val DayMs = 1704067200000L

  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** splitmix64 stream: deterministic choices from a seed. */
final class Rng(private var state: Long) {
  def next(): Long = { state += 0x9e3779b97f4a7c15L; Model.mix(state) }
  def below(n: Int): Int = ((next() >>> 1) % n).toInt
}
