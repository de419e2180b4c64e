package perfbench

import graft.sources.Prompb
import org.xerial.snappy.Snappy

/** Per-layer metrics of a traced wire run. Each layer is measured on the
  * workload's timed-window requests when the window has that kind of
  * request; otherwise on the run's own set-up writes (`dashboard`'s
  * preload) or verification reads (`ingest`'s read-back), and the
  * artifact records which. */
object Layers {
  final case class Out(metrics: Map[String, Double], detail: Map[String, Any])

  /** Every wire-layer metric with its unit, in print order. */
  val Units: Seq[(String, String)] = Seq(
    "codec.write_decode_ms" -> "ms", "codec.read_encode_ms" -> "ms", "codec.write_bytes_per_sample" -> "B",
    "write.store_ms" -> "ms", "write.spark_jobs" -> "count", "write.tasks" -> "count",
    "write.executor_cpu_ms" -> "ms", "write.shuffle_bytes_per_sample" -> "B", "write.input_rows" -> "count",
    "write.new_series_ratio" -> "ratio", "write.files_added" -> "count", "store.bytes_per_sample" -> "B",
    "index.miss_ratio" -> "ratio", "index.build_ms" -> "ms", "index.series" -> "count",
    "probe.ms" -> "ms", "probe.spark_jobs" -> "count",
    "scan.ms" -> "ms", "scan.spark_jobs" -> "count", "scan.files_read" -> "count",
    "scan.rows_per_sample" -> "ratio", "scan.shuffle_bytes" -> "B", "scan.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "B", "spark.jobs" -> "count", "trace.overhead_pct" -> "%")

  def compute(l: SpanListener, ops: Seq[Op], shape: Wire.Shape, before: StoreFiles, after: StoreFiles,
      dictBefore: Long, dictAfter: Long, indexBuild: (Long, Double), setupSteps: Int,
      bytesPerSample: Double): Out = {
    val traced = ops.filter(o => o.traced && o.ok)
    def pick(kind: String): (Seq[Op], String) = {
      val w = traced.filter(o => o.kind == kind && o.phase == "window")
      if (w.nonEmpty) (w, "window") else (traced.filter(o => o.kind == kind), "set-up/verification")
    }
    val (writes, writeSource) = pick("write")
    val (reads, readSource) = pick("read")
    val window = ops.filter(_.phase == "window")
    val windowWrites = window.filter(_.kind == "write")

    def spans(op: Op, layer: String): Seq[Span] = op.spans.filter(_.layer == layer)
    def wallMs(op: Op, layer: String): Double = spans(op, layer).map(_.wallNs).sum / 1e6
    def sum(op: Op, layer: String)(f: SpanStats => Long): Long = spans(op, layer).map(s => f(l.stats(s.id))).sum
    def total(op: Op)(f: SpanStats => Long): Long = op.spans.map(s => f(l.stats(s.id))).sum
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def perWrite(f: SpanStats => Long): Double = mean(writes.map(w => sum(w, "write")(f).toDouble))
    def perRead(layer: String)(f: SpanStats => Long): Double = mean(reads.map(r => sum(r, layer)(f).toDouble))
    val writeSamples = writes.map(_.samples.toDouble).sum
    val returned = reads.map(r => Prompb.decodeReadResponse(Snappy.uncompress(r.payload))
      .map(_.map(_.samples.size).sum).sum.toLong).sum
    val misses = reads.filter(r => sum(r, "index")(_.jobs) > 0)
    val primary = if (shape.readers == 0) "write" else "read"
    val (tracedOps, plainOps) = window.filter(o => o.ok && o.kind == primary).partition(_.traced)

    val m = Map[String, Double](
      "codec.write_decode_ms" -> Stats.median(writes.map(wallMs(_, "codec.write_decode"))),
      "codec.read_encode_ms" -> Stats.median(reads.map(wallMs(_, "codec.read_encode"))),
      "codec.write_bytes_per_sample" -> writes.map(_.bodyBytes.toLong).sum / writeSamples,
      "write.store_ms" -> Stats.median(writes.map(wallMs(_, "write"))),
      "write.spark_jobs" -> perWrite(_.jobs),
      "write.tasks" -> perWrite(_.tasks),
      "write.executor_cpu_ms" -> perWrite(_.cpuNs) / 1e6,
      "write.shuffle_bytes_per_sample" -> writes.map(w => sum(w, "write")(_.shuffleWriteBytes)).sum / writeSamples,
      "write.input_rows" -> perWrite(_.inputRows),
      "write.new_series_ratio" ->
        (if (windowWrites.nonEmpty) (dictAfter - dictBefore).toDouble / (windowWrites.size * Model.SeriesPerRequest)
        else dictBefore.toDouble / (setupSteps * Model.SeriesPerRequest)),
      "write.files_added" ->
        (if (windowWrites.nonEmpty)
          (after.samplesFiles + after.seriesFiles - before.samplesFiles - before.seriesFiles).toDouble / windowWrites.size
        else (before.samplesFiles + before.seriesFiles).toDouble / setupSteps),
      "store.bytes_per_sample" -> bytesPerSample,
      "index.miss_ratio" -> misses.size.toDouble / reads.size,
      "index.build_ms" -> Stats.median(misses.map(wallMs(_, "index")) :+ indexBuild._2),
      "index.series" -> indexBuild._1.toDouble,
      "probe.ms" -> Stats.median(reads.map(wallMs(_, "probe"))),
      "probe.spark_jobs" -> perRead("probe")(_.jobs),
      "scan.ms" -> Stats.median(reads.map(r => wallMs(r, "scan") - wallMs(r, "probe"))),
      "scan.spark_jobs" -> perRead("scan")(_.jobs),
      "scan.files_read" -> perRead("scan")(_.filesRead),
      "scan.rows_per_sample" -> reads.map(r => sum(r, "scan")(_.inputRows)).sum.toDouble / math.max(1L, returned),
      "scan.shuffle_bytes" -> perRead("scan")(_.shuffleWriteBytes),
      "scan.executor_cpu_ms" -> perRead("scan")(_.cpuNs) / 1e6,
      "spark.gc_ms" -> window.map(total(_)(_.gcMs)).sum.toDouble,
      "spark.spill_bytes" -> window.map(total(_)(_.spillBytes)).sum.toDouble,
      "spark.jobs" -> mean(window.map(total(_)(_.jobs).toDouble)),
      "trace.overhead_pct" -> ((Stats.median(tracedOps.map(_.ms)) / Stats.median(plainOps.map(_.ms)) - 1) * 100))

    def sites(layer: String): Map[String, Int] =
      ops.flatMap(_.spans.filter(_.layer == layer)).flatMap(s => l.stats(s.id).callSites)
        .groupMapReduce(_._1)(_._2)(_ + _)
    // every counter the listener attributes, summed per layer over the
    // requests the layer is measured on
    def totals(layer: String, measured: Seq[Op]): Map[String, Long] = {
      val st = measured.flatMap(spans(_, layer)).map(s => l.stats(s.id))
      Map("jobs" -> st.map(_.jobs.toLong).sum, "tasks" -> st.map(_.tasks).sum,
        "executor_cpu_ms" -> st.map(_.cpuNs).sum / 1000000L, "gc_ms" -> st.map(_.gcMs).sum,
        "input_rows" -> st.map(_.inputRows).sum, "input_bytes" -> st.map(_.inputBytes).sum,
        "shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> st.map(_.spillBytes).sum, "files_read" -> st.map(_.filesRead).sum)
    }
    Out(m, Map(
      "write_layers_measured_on" -> writeSource, "write_requests" -> writes.size,
      "read_layers_measured_on" -> readSource, "read_requests" -> reads.size,
      "index_misses" -> misses.size,
      "overhead_compares" -> Map("primary" -> primary, "traced" -> tracedOps.size, "plain" -> plainOps.size,
        "traced_p50_ms" -> Stats.median(tracedOps.map(_.ms)), "plain_p50_ms" -> Stats.median(plainOps.map(_.ms))),
      "job_call_sites" -> Seq("write", "index", "probe", "scan").map(x => x -> sites(x)).toMap,
      "span_totals" -> (Seq("write" -> writes) ++ Seq("index", "probe", "scan").map(_ -> reads))
        .map { case (x, measured) => x -> totals(x, measured) }.toMap))
  }
}
