package perfbench

import graft.queries._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `query_board` workload: registered queries of the 16
  * `graft.queries` modules, run in-process over the test data shipped in
  * `perfbench/data` (a copy of the repository's sf0.01 tables).
  *
  * The gated run uses [[subset]]: the first benched query of each module,
  * 16 in all. `--full 1` uses every query `graft.Bench` benches instead
  * (one pass takes about a minute, so it is for runs by hand). Set-up is
  * one pass, 4 queries at a time, that checks every query's output
  * against `board_reference.json` (row count and an order-insensitive
  * content hash), then [[WarmupSeconds]] of the window's load. The timed
  * window runs [[Streams]] closed-loop streams, each through the queries
  * in a fixed rotation from its own starting point, materializing each
  * query through the `noop` sink as `graft.Bench` does. Run one at a
  * time, the queries leave cores idle, and time the host's other guests
  * take from this one then lands on the critical path of every query;
  * with the cores kept busy it costs throughput in proportion (README).
  * The inputs do not depend on the seed. With `--trace 1` each
  * query's jobs form one job group, so executor CPU and jobs are
  * attributed per module.
  *
  * `--capture FILE` writes a new reference instead: two passes over every
  * benched query, and any query whose hash differs between them is
  * recorded as checked by row count only. */
object Board {
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreQueries" -> CoreQueries.all, "PromQueries" -> PromQueries.all,
    "TextQueries" -> TextQueries.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all, "MultimodalQueries" -> MultimodalQueries.all,
    "SamplingQueries" -> SamplingQueries.all, "CurationQueries" -> CurationQueries.all,
    "EventQueries" -> EventQueries.all, "RetrievalQueries" -> RetrievalQueries.all,
    "GraphQueries" -> GraphQueries.all, "HybridQueries" -> HybridQueries.all,
    "PrfQueries" -> PrfQueries.all, "DiversityQueries" -> DiversityQueries.all,
    "NegativeQueries" -> NegativeQueries.all, "OverlapQueries" -> OverlapQueries.all)

  /** The queries `graft.Bench` leaves off its board (same list, same reasons:
    * training one-offs and verification-grade invariant rows). */
  val Skip: Set[String] = Set("d3_ngram_jaccard", "d6_dedup_keeplist", "d16_dup_histogram",
    "sp2_family_split", "d14_canonical_quality", "s3_ann_ivf", "sem1_semdedup", "s7_ivf_assign",
    "qc1_lr_quality", "s8_ann_pq", "tok1_bpe_tokens", "pk4_semantic_order", "pk4_layout_invariants",
    "pk4_order_invariants", "s10_served_invariants", "s11_served_quantized_invariants",
    "s12_served_pq_invariants", "s13_served_ivfpq_invariants", "s14_served_ivfadc_invariants",
    "s2_lsh_invariants", "s6_quantize_invariants", "s8_pq_invariants", "rh4_quantile_invariants",
    "a3_hll_invariants", "s3_ivf_invariants", "s7_assign_invariants", "q9_approx_invariants",
    "pk4_adjacency_invariants", "mmd1_band_invariants", "mmd2_band_invariants",
    "fi1_sketch_invariants", "ev5_sketch_invariants", "t11_ratio_invariants",
    "qc1_score_invariants", "bpe1_merge_invariants", "sem1_cluster_invariants",
    "pk5_bestfit_invariants", "tok1_unit_invariants", "hyb2_served_invariants",
    "mmr1_diversity_invariants", "kmv3_sketch_invariants")

  def benched: Seq[(String, QueryDef)] =
    Modules.flatMap { case (m, qs) => qs.filterNot(q => Skip(q.name)).map(m -> _) }

  /** Left out of [[subset]]: its first run builds a served index for
    * about 45 s, longer than a whole gated run may take; its module's next
    * query stands in. */
  val SlowFirstRun: Set[String] = Set("hyb2_hybrid_served")
  def subset: Seq[(String, QueryDef)] = Modules.flatMap { case (m, qs) =>
    qs.filterNot(q => Skip(q.name) || SlowFirstRun(q.name)).take(1).map(m -> _)
  }

  /** Closed-loop query streams, in the window and in the last warm-up. */
  val Streams = 4
  /** The streams' warm-up after the checked pass. */
  val WarmupSeconds = 6

  val Data = "perfbench/data"
  val ReferenceFile = "perfbench/board_reference.json"

  /** Per-module metrics with their units, in print order. */
  val LayerUnits: Seq[(String, String)] = Modules.map(_._1).flatMap(m =>
    Seq(s"board.$m.wall_s" -> "s", s"board.$m.cpu_s" -> "s", s"board.$m.jobs" -> "count"))

  /** (row count, order-insensitive hash); doubles are rounded to 9
    * significant digits so summation-order noise does not change it. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val h = rows.foldLeft(0L)((acc, r) =>
      acc + Model.mix(scala.util.hashing.MurmurHash3.stringHash(r.toSeq.map(cell).mkString("\u0001")).toLong))
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  private def materialize(spark: SparkSession, data: String, q: QueryDef): Unit =
    q.fn(spark, data).write.format("noop").mode("overwrite").save()

  /** Each query's output fingerprint and seconds taken, `threads`
    * queries at a time. */
  private def outputs(spark: SparkSession, data: String, queries: Seq[(String, QueryDef)],
      failures: Failures, threads: Int): Map[String, ((Long, String), Double)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try queries.map { case (_, q) =>
      pool.submit(new java.util.concurrent.Callable[Option[(String, ((Long, String), Double))]] {
        def call() = {
          val t0 = System.nanoTime()
          try Some(q.name -> (fingerprint(q.fn(spark, data).collect()), (System.nanoTime() - t0) / 1e9))
          catch { case e: Exception => failures.add("query_error", s"${q.name}: ${e.getMessage}"); None }
        }
      })
    }.flatMap(_.get()).toMap
    finally pool.shutdown()
  }

  def run(o: Opts): Result = {
    val data = Paths.get(Data).toAbsolutePath.toString
    val queries = if (o.full) benched else subset
    val capture = sys.props.get("perfbench.capture")
    val stampsBefore = Machine.stamps()
    val t0 = System.nanoTime()
    val spark = Machine.session(4)
    val failures = new Failures
    capture.foreach { out =>
      val first = outputs(spark, data, benched, failures, 1).map { case (k, v) => k -> v._1 }
      val again = outputs(spark, data, benched, failures, 1).map { case (k, v) => k -> v._1 }
      val unstable = first.keys.filter(k => again.get(k).exists(_._2 != first(k)._2)).toSeq.sorted
      Files.write(Paths.get(out), (Json.render(mutable.LinkedHashMap[String, Any](
        "data" -> "sf0.01",
        "row_count_only" -> unstable,
        "queries" -> mutable.LinkedHashMap(first.toSeq.sortBy(_._1).map { case (k, (n, h)) =>
          k -> mutable.LinkedHashMap[String, Any]("rows" -> n, "hash" -> h) }: _*))) + "\n").getBytes("UTF-8"))
    }
    val ref = Reference.load(Paths.get(capture.getOrElse(ReferenceFile)))
    val sessionS = (System.nanoTime() - t0) / 1e9
    // the untimed first pass runs 4 queries at a time to shorten set-up
    val warm = outputs(spark, data, queries, failures, 4)
    queries.foreach { case (_, q) =>
      (warm.get(q.name).map(_._1), ref.queries.get(q.name)) match {
        case (Some((n, h)), Some((rn, rh))) =>
          if (n != rn) failures.add("wrong_row_count", s"${q.name}: $n rows, reference $rn")
          else if (!ref.rowCountOnly(q.name) && h != rh) failures.add("wrong_content", s"${q.name}: hash $h, reference $rh")
        case (Some(_), None) => failures.add("no_reference", q.name)
        case (None, _) => ()
      }
    }
    val sc = spark.sparkContext
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long)]() // (module, query, start, end)
    /** [[Streams]] closed-loop streams through the rotation until
      * `deadline`, stream s starting at query s × size / Streams. */
    def streams(deadline: Long, record: Boolean): Unit = {
      val threads = (0 until Streams).map { s =>
        new Thread(() => {
          var i = s * queries.size / Streams
          while (System.nanoTime() < deadline) {
            val (module, q) = queries(i % queries.size)
            i += 1
            if (record && o.trace) sc.setJobGroup(s"board:${q.name}", null, interruptOnCancel = false)
            val q0 = System.nanoTime()
            try materialize(spark, data, q)
            catch { case e: Exception => failures.add("query_error", s"${q.name}: ${e.getMessage}") }
            finally sc.clearJobGroup()
            if (record) runs.add((module, q.name, q0, System.nanoTime()))
          }
        }, s"perfbench-board-$s")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    // the checked pass runs 4 queries at a time; the streams running for
    // WarmupSeconds, as in the window, finish the warm-up
    streams(System.nanoTime() + WarmupSeconds * 1000000000L, record = false)
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- timed window: the streams through the rotation ----
    val listener = if (o.trace) Some(new SpanListener("board:")) else None
    listener.foreach(sc.addSparkListener)
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ticks0 = Machine.cpuTicks()
    val cpu0 = cpu.getProcessCpuTime
    val w0 = System.nanoTime()
    val deadline = w0 + o.seconds * 1000000000L
    streams(deadline, record = true)
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val hostCpu = Machine.cpuShares(ticks0, Machine.cpuTicks())
    val served = Stats.inWindow(runs.asScala.toSeq.map(r => (r._3, r._4)), w0, deadline)
    listener.foreach { l => l.drain(sc); sc.removeSparkListener(l) }
    val heapMb = Jvm.liveHeap(java.lang.management.ManagementFactory.getMemoryMXBean) / 1048576.0

    // per query: the median of its runs in the window
    val perQuery = runs.asScala.toSeq.groupBy(_._2).view
      .mapValues(rs => (rs.head._1, rs.size, Stats.median(rs.map(r => (r._4 - r._3) / 1e9)))).toMap
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "latency_ms" -> (perQuery.values.map(_._3 * 1000).sum / perQuery.size, "ms"),
      "cpu_ms_per_request" -> (cpuS * 1000 / served, "ms"),
      "live_heap_mb" -> (heapMb, "MB"))
    // one pass's share of each module: median wall time, and executor CPU
    // and jobs per execution, summed over the module's queries
    val layers = listener.map { l =>
      Modules.map(_._1).flatMap { m =>
        val qs = perQuery.filter(_._2._1 == m)
        def perRun(f: SpanStats => Double): Double =
          qs.map { case (name, (_, n, _)) => f(l.stats(s"board:$name")) / n }.sum
        Seq(s"board.$m.wall_s" -> qs.values.map(_._3).sum,
          s"board.$m.cpu_s" -> perRun(_.cpuNs / 1e9),
          s"board.$m.jobs" -> perRun(_.jobs.toDouble))
      }.toMap
    }
    Result(
      correct = failures.kinds.keySet.forall(k => !Set("wrong_row_count", "wrong_content")(k)),
      attempted = queries.size + runs.size, failed = failures.count,
      endToEnd = e2e, perLayer = layers.getOrElse(Map.empty),
      artifact = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
        "detail" -> mutable.LinkedHashMap[String, Any](
          "board_s" -> perQuery.values.map(_._3).sum, "cpu_s" -> cpuS, "session_s" -> sessionS,
          "first_pass_s" -> warm.map { case (k, v) => k -> v._2 }, "queries" -> queries.map(_._2.name),
          "executions" -> runs.size, "not_run_in_window" -> queries.map(_._2.name).filterNot(perQuery.contains),
          "query_median_s" -> perQuery.map { case (k, v) => k -> v._3 },
          "window_runs_ms" -> runs.asScala.toSeq.map(r => Seq(r._2, (r._4 - r._3) / 1e6))),
        "row_count_only" -> ref.rowCountOnly.toSeq.sorted,
        "failures" -> failures.toMap,
        "machine" -> Map("before" -> stampsBefore, "after" -> Machine.stamps(), "window_cpu_shares" -> hostCpu)))
  }

  final case class Reference(queries: Map[String, (Long, String)], rowCountOnly: Set[String])
  object Reference {
    def load(p: Path): Reference = {
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
      val JObject(qs) = j \ "queries"
      Reference(qs.map { case (k, v) => k -> ((v \ "rows").extract[Long], (v \ "hash").extract[String]) }.toMap,
        (j \ "row_count_only").extract[Seq[String]].toSet)
    }
  }
}
