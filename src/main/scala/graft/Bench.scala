package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline operator queries on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  * "ingest_samples_per_sec":…,"ingest_rounds_sec":[…],"probe_ms":[…],
  * "bytes_per_sample":…,"sf":…}` — `probe_ms` stamps machine health
  * around each timed round so a degraded co-tenant window is detectable
  * from the artifact alone; ingest is interleaved min-of-3 like the
  * queries.
  *
  * Timing forces full materialization via the `noop` sink — `count()`
  * would let Catalyst prune computed columns and under-report.
  *
  * `d3_ngram_jaccard` (the deliberately quadratic exact-dedup baseline) is
  * excluded: its scalable counterpart `d2_dedup_minhash_lsh` is what runs
  * at size. Everything else in the inventory is benched.
  */
object Bench {
  // Health bars — ONE definition each; the gate, the stderr diagnostic,
  // and the stamped artifact all derive from these (an r14 review found
  // the message saying ">1.2" while the code gated at 1.4).
  //   ParBar: par/serial probe ratio. CALIBRATED ON THIS BOX (2026-08-15,
  //     idle machine, standalone JVM): serial 316-318 ms, par32
  //     356-405 ms → IDLE par/serial is 1.12-1.28 with high run-to-run
  //     spread (32 threads on 32 cores: scheduler jitter + turbo/thermal,
  //     NOT a co-tenant). Real steal events measured 1.44 and 1.66
  //     historically, so the bar sits above idle noise, below every
  //     observed steal.
  //   SerialBar: serial probe vs this box's pinned quiet plateau —
  //     per-core slowdown (≈1.0 healthy).
  //   MemBar: memory-bandwidth probe vs quiet plateau — a bandwidth/LLC
  //     co-tenant the CPU stamps can't see (uniform scan inflation).
  //   LatBar: pointer-chase memory-LATENCY probe vs quiet plateau — the
  //     LLC/TLB-polluting co-tenant mode all three other stamps are
  //     structurally blind to (r15: uniform ~1.12-1.26× board inflation
  //     with clean serial/par/mem; the pinned artifact's own lat stamps
  //     sat at 642-906 ms vs the same day's 597-648 ms plateau — ratios
  //     1.07-1.51 in exactly the inflated windows). GATES ONLY when the
  //     calibration file carries a `lat_quiet_ms` nominal — promoting a
  //     nominal measured on an unverified window would re-blind the
  //     stamp, so absent the pin the stamp stays record-only.
  val ParBar = 1.4
  val SerialBar = 1.3
  val MemBar = 1.3
  val LatBar = 1.3

  private def die(msg: String): Nothing = {
    System.err.println(s"[bench] FATAL: $msg")
    sys.exit(2)
  }

  /** Whether the file at `path` is a pinnable board: the cross-round
    * reference, which no later run may overwrite. */
  def pinned(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.exists(p) && "\"pinnable\"\\s*:\\s*true".r
      .findFirstIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined
  }

  private def refusePinned(path: String): Unit =
    if (pinned(path)) die(s"$path holds a pinnable board; refusing to overwrite it — " +
      "point SPARK_GRAFT_BENCH_OUT at another file")

  /** Quiet-window nominals for this machine. Box-specific (a faster box
    * would never trip serial/quiet, a slower one would always be
    * "degraded"), so they live in a calibration file PINNED TO THE HOST
    * (hostname + core count); a mismatch fails loudly instead of
    * silently grading this machine against another box's plateau.
    * Regenerate on a quiet machine with `Bench --calibrate`; override
    * per-run with SPARK_GRAFT_SERIAL_QUIET_MS + SPARK_GRAFT_MEM_QUIET_MS
    * (both required together — a half-override would mix boxes). */
  private def machineKey(): (String, Int) =
    (java.net.InetAddress.getLocalHost.getHostName,
      Runtime.getRuntime.availableProcessors)

  private def loadCalibration(): (Double, Double, Option[Double]) = {
    val envSerial = sys.env.get("SPARK_GRAFT_SERIAL_QUIET_MS").map(_.toDouble)
    val envMem = sys.env.get("SPARK_GRAFT_MEM_QUIET_MS").map(_.toDouble)
    val envLat = sys.env.get("SPARK_GRAFT_LAT_QUIET_MS").map(_.toDouble)
    if (envSerial.isDefined || envMem.isDefined) {
      if (envSerial.isEmpty || envMem.isEmpty)
        die("SPARK_GRAFT_SERIAL_QUIET_MS and SPARK_GRAFT_MEM_QUIET_MS must be set together")
      return (envSerial.get, envMem.get, envLat)
    }
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_CALIBRATION", "bench-calibration.json"))
    if (!java.nio.file.Files.exists(path))
      die(s"no calibration file at $path — run `Bench --calibrate` on a quiet window " +
        "or set SPARK_GRAFT_SERIAL_QUIET_MS + SPARK_GRAFT_MEM_QUIET_MS")
    val raw = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    // The free-form "note" field is prose and may legally contain other
    // keys' names in quotes ('"host":' etc.) — strip every string-valued
    // field except the two string pins BEFORE the first-match regex runs,
    // so the parse can't be poisoned by field ordering (r15 ADVICE).
    val txt = "\"(?!host\")(?!measured_utc\")[A-Za-z_]+\"\\s*:\\s*\"(?:[^\"\\\\]|\\\\.)*\""
      .r.replaceAllIn(raw, "")
    def field(k: String): String =
      ("\"" + k + "\"\\s*:\\s*\"?([^\",}]+)").r.findFirstMatchIn(txt)
        .getOrElse(die(s"calibration file $path missing field '$k'")).group(1)
    val (host, cores) = machineKey()
    val (pinHost, pinCores) = (field("host"), field("cpus").toInt)
    if (pinHost != host || pinCores != cores)
      die(s"calibration in $path is pinned to host=$pinHost cpus=$pinCores but this " +
        s"machine is host=$host cpus=$cores — its quiet plateaus do not apply here; " +
        "re-run `Bench --calibrate` on a quiet window of THIS machine")
    // lat nominal is OPTIONAL: pre-r16 calibration files lack it and the
    // lat stamp then stays record-only (see LatBar)
    val lat = ("\"lat_quiet_ms\"\\s*:\\s*\"?([^\",}]+)").r
      .findFirstMatchIn(txt).map(_.group(1).toDouble)
    // fail-loud, not fail-quiet: a calibration file that CARRIES the key
    // but whose value the parse can't use (hand-edited to a quoted
    // string — which the strip above removes — or otherwise mangled)
    // would silently downgrade the lat gate to record-only (r16 ADVICE)
    if (raw.contains("lat_quiet_ms") && lat.isEmpty)
      die(s"calibration file $path contains 'lat_quiet_ms' but it did not parse " +
        "as a number — refusing to silently demote the lat gate to record-only; " +
        "fix the field or re-run `Bench --calibrate`")
    (field("serial_quiet_ms").toDouble, field("mem_quiet_ms").toDouble, lat)
  }

  /** Measure this box's quiet plateaus (median of 9 after 2 discarded
    * JIT-warmup stamps each) and write the host-pinned calibration file.
    * Run on a QUIET window — the pin IS the health reference. */
  private def calibrate(): Unit = {
    (0 until 2).foreach { _ =>
      graft.tools.MachineProbe.stampMs(); graft.tools.MachineProbe.stampMemMs()
      graft.tools.MachineProbe.stampLatMs()
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val serial = med((0 until 9).map(_ => graft.tools.MachineProbe.stampMs()))
    val mem = med((0 until 9).map(_ => graft.tools.MachineProbe.stampMemMs()))
    val lat = med((0 until 9).map(_ => graft.tools.MachineProbe.stampLatMs()))
    val (host, cores) = machineKey()
    val json =
      f"""{"host":"$host","cpus":$cores,"serial_quiet_ms":$serial%.0f,"mem_quiet_ms":$mem%.0f,"lat_quiet_ms":$lat%.0f,"measured_utc":"${java.time.Instant.now()}"}"""
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_CALIBRATION", "bench-calibration.json"))
    java.nio.file.Files.write(path, (json + "\n").getBytes("UTF-8"))
    println(json)
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--calibrate")) { calibrate(); return }
    // Fail-loudly calibration load happens BEFORE the ~15-minute run.
    val (serialQuietMs, memQuietMs, latQuietMs) = loadCalibration()
    // The full artifact lands IN THE REPO by default, so the bench record
    // outlives the machine it ran on (a /tmp default lost it twice). It
    // never replaces a pinned board.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL_latest.json")
    refusePinned(fullPath)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Engine.install(spark)

    // d3 is the deliberately quadratic exact baseline (d2 is its scale
    // path) and d6's gate form embeds the same exact pair set as its oracle
    // anchor (the scale path is keepList over d2's LSH pairs); s3 includes
    // a KMeans *training* step — the serving-side scale path for ANN is
    // s2. None belongs in the per-query latency table.
    // sem1/s7 embed the same KMeans training one-off as s3 (sem1's
    // serving-side scale cost is the within-cell pair join, benched via
    // d5/s2's shapes; s7's is a map-only projection)
    // sp2 embeds the same exact pair set as d6 (its oracle anchor; the
    // scale path keys the split off keepList over d2's LSH pairs);
    // qc1 is classifier TRAINING (12 iterative gradient jobs) —
    // serving-side scoring is a map-side probe + one doc agg, the
    // sm5-scoring shape already benched; tok1 retrains the sequential
    // 12-rule tokenizer inline (its encode fold is the benched part of
    // bpe1's batched entry below)
    // bpe1 IS benched since the batched trainer landed: 256 rules in ~4
    // recount rounds — the tokenizer-training number a user would see
    // d16 shares d6's exact-pair oracle anchor (scale path = keepList
    // over d2's LSH pairs), so it inherits d6's bench exclusion
    val skip = Set("d3_ngram_jaccard", "d6_dedup_keeplist", "d16_dup_histogram",
      "sp2_family_split",
      "d14_canonical_quality", "s3_ann_ivf", "sem1_semdedup", "s7_ivf_assign",
      "qc1_lr_quality", "s8_ann_pq", "tok1_bpe_tokens",
      // pk4 + its invariants gate row embed the same KMeans training
      // one-off as s3 (the serving-side scale path is s7's projection)
      "pk4_semantic_order", "pk4_layout_invariants", "pk4_order_invariants",
      // invariant VERIFICATION rows (r11/r12): gate-only shapes — each
      // re-derives its operator's output through a deliberately
      // different, verification-grade plan (window re-rank, per-pair
      // reconstruction identities, brute re-derivations), which no
      // serving path runs; several also embed the training one-offs
      // (KMeans, LR descent, BPE rounds) their operators inherit
      // s10_served_invariants re-runs s3's inline KMeans training for the
      // served≡inline compare (s10_ann_served itself IS benched: it serves
      // from the build-once cached artifact — the pure-serving number)
      "s10_served_invariants", "s11_served_quantized_invariants",
      "s12_served_pq_invariants", "s13_served_ivfpq_invariants",
      "s14_served_ivfadc_invariants",
      "s2_lsh_invariants", "s6_quantize_invariants", "s8_pq_invariants",
      "rh4_quantile_invariants", "a3_hll_invariants",
      "s3_ivf_invariants", "s7_assign_invariants", "q9_approx_invariants",
      "pk4_adjacency_invariants", "mmd1_band_invariants", "mmd2_band_invariants",
      "fi1_sketch_invariants", "ev5_sketch_invariants", "t11_ratio_invariants",
      "qc1_score_invariants", "bpe1_merge_invariants", "sem1_cluster_invariants",
      "pk5_bestfit_invariants",
      // tok1_unit_invariants retrains a BPE model inline (tok1's shape)
      "tok1_unit_invariants",
      // hyb2's invariants re-run both serves + both scan-form pools
      "hyb2_served_invariants",
      // mmr1's invariants replay the greedy selection stepwise
      "mmr1_diversity_invariants",
      // kmv3 re-runs the exact card plus three sketch passes
      "kmv3_sketch_invariants")
    val defs = SparkEntry.defs.filterNot(d => skip.contains(d.name))

    // JIT/codegen + parquet-footer warmup on the BENCHED dir (not timed):
    // warming a different SF would JIT the code but leave this dir's
    // footers/page cache cold for round 1 only — a phantom round-1-vs-2
    // delta that min-of-3 then hides unevenly across queries. A failure
    // here is tolerable (the timed run still executes) but never silent —
    // a typo'd query name warming nothing would skew its timing.
    defs.foreach { d =>
      try d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup of ${d.name} failed: ${e.getMessage}")
      }
    }

    // Machine-health calibration stamp before each round and after the
    // last (graft.tools.MachineProbe — the one shared workload BenchSubset
    // also stamps, so stamps are comparable across artifacts). The
    // workload is constant, so any spread across the stamps is the
    // MACHINE's (this sandbox exhibits bursty multi-second co-tenant
    // stalls: a 0.9 s query observed at 75 s, CPU-pressure ≈ 0) — a run
    // whose probe stamps disagree by ≫2× is degraded and its regressions
    // are noise, detectable from the bench artifact alone.
    def probeMs(): Double = graft.tools.MachineProbe.stampMs()
    // The single-thread stamp misses a co-tenant stealing CORES (each
    // thread still gets one full core → nominal stamp, yet every 32-way
    // query runs uniformly slow; observed r7: probes ~240 ms, board ×1.35).
    // The parallel stamp saturates the requested parallelism, so
    // probe_par/nominal ≈ the oversubscription factor the QUERIES saw.
    def probeParMs(): Double = graft.tools.MachineProbe.stampParMs(cpus.toInt)
    // The CPU stamps are register-bound and BLIND to a co-tenant stealing
    // memory bandwidth/LLC (observed r14: CPU stamps within 5% of nominal,
    // every memory-bound scan a uniform ~1.2× slow). The memory stamp
    // inflates in exactly that mode.
    def probeMemMs(): Double = graft.tools.MachineProbe.stampMemMs()
    // Memory-LATENCY stamp (r15, stamped but NON-GATING): two same-day
    // healthy-stamped boards ran a uniform ~1.15x apart while all three
    // gating stamps matched — the signature of an LLC/TLB-polluting
    // co-tenant (pointer-heavy Spark code slows; ALU loops and
    // prefetched streaming don't). Stamped so future cross-round drift
    // can be attributed; it joins the GATE only once a verified-quiet
    // nominal exists (today's windows may themselves be polluted — a
    // nominal pinned on them would re-blind the stamp).
    def probeLatMs(): Double = graft.tools.MachineProbe.stampLatMs()

    // Ingest workload: 2M Prometheus-shaped samples through the full write
    // path (fingerprint + new-series anti-join + partitioned sorted
    // append), the BASELINE.md write envelope analogue. Built once; each
    // timed round writes to a FRESH store dir.
    import org.apache.spark.sql.functions._
    val batch = spark.range(2_000_000).select(
      map(lit("__name__"), lit("http_requests_total"),
        lit("instance"), concat(lit("host-"), (col("id") % 200).cast("string"))).as("labels"),
      (lit(1700000000000L) + (col("id") / 200).cast("long") * 15000L).as("timestamp_ms"),
      (col("id") / 200 + (col("id") % 7)).cast("double").as("value"))

    // Three timed runs per query, min reported: the workload is
    // deterministic (identical plans and data run-to-run), so run-to-run
    // variance is the machine's — beyond the usual ±20% (page cache, JIT,
    // background IO), this sandbox exhibits BURSTY multi-second freezes
    // (see probeMs above; a full-bench run once showed one 0.6 s query at
    // 8.5 s in ALL THREE back-to-back runs while a probe minutes later
    // measured it steady at 0.64 s). min is the standard least-noise
    // estimator for deterministic work; the rounds are INTERLEAVED (whole
    // query list × 3, not each query × 3) so one multi-second stall lands
    // in different queries in different rounds and the per-query min
    // discards it — back-to-back repeats would sit inside the same stall
    // window all three times. The INGEST measurement is interleaved into
    // the rounds for the same reason (it was single-shot through round 6,
    // and a stall window once reported a 3.8× collapse that a steady-state
    // 200 M-sample ingest disproved, SCALE.md §7).
    // probe JIT warmup (untimed): the first stamp of each kind otherwise
    // pays the probe loop's own JIT compilation — observed first-par
    // stamps of 1247 ms vs a 471-570 ms plateau in the same run — which
    // would poison round 0's health bracket every run (calibrate()
    // discards warmup stamps for the same reason)
    graft.tools.MachineProbe.stampMs()
    graft.tools.MachineProbe.stampParMs(cpus.toInt)
    graft.tools.MachineProbe.stampMemMs()
    graft.tools.MachineProbe.stampLatMs()

    val order = defs.map(_.name)
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val probesPar = scala.collection.mutable.ArrayBuffer[Double]()
    val probesMem = scala.collection.mutable.ArrayBuffer[Double]()
    val probesLat = scala.collection.mutable.ArrayBuffer[Double]()
    val ingestDirs = scala.collection.mutable.ArrayBuffer[String]()
    val ingestSecs = scala.collection.mutable.ArrayBuffer[Double]()
    // Each probe triple is preceded by an UNTIMED full GC: the triple
    // runs right after a round's queries + 2M-row ingest, and the JVM's
    // own pending GC work otherwise steals cores DURING the par probe
    // (observed: par stamps alternating 362/563/403/469 ms within one
    // otherwise-quiet run — self-contention, not a co-tenant). The stamp
    // exists to measure the MACHINE; draining our own GC debt first is
    // standard benchmark hygiene, not cheating the gate.
    // Each boundary stamp is the MIN of 3 back-to-back stamps per kind:
    // a single point sample can be dirtied by sub-second scheduler
    // jitter that never touches the adjacent rounds, while contention
    // sustained enough to corrupt round timings trivially covers the
    // whole ~3 s boundary window — so min-of-3-at-the-boundary keeps
    // the per-boundary health honest without the r14 failure mode
    // (min over the WHOLE RUN, where one clean instant anywhere
    // certified everything).
    def probeTriple(): Unit = {
      System.gc()
      probes += (1 to 3).map(_ => probeMs()).min
      probesPar += (1 to 3).map(_ => probeParMs()).min
      probesMem += (1 to 3).map(_ => probeMemMs()).min
      probesLat += (1 to 3).map(_ => probeLatMs()).min
    }
    val roundSamples = (0 until 3).map { round =>
      probeTriple()
      val qTimes = defs.map { d =>
        val t0 = System.nanoTime()
        try d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
        }
        d.name -> (System.nanoTime() - t0) / 1e9
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bench_ingest_$round").toString
      ingestDirs += dir
      val store = new graft.storage.ParquetStore(spark, dir)
      val ti = System.nanoTime()
      store.write(batch)
      ingestSecs += (System.nanoTime() - ti) / 1e9
      qTimes
    }
    probeTriple()

    // DEGRADED-WINDOW GATE (re-reworked after the r14 ADVICE): the r14
    // form gated on the MIN across all probe samples, so ONE clean
    // instant anywhere certified the whole run even when no timing round
    // was actually clean. The gate now works per ROUND: probe sample i
    // brackets rounds i-1 and i (4 samples around 3 rounds); a sample is
    // healthy when all three of its ratios sit under the shared bars,
    // and a round is CLEAN-BRACKETED when both its bracketing samples
    // are healthy. Per-query results take the min over clean-bracketed
    // rounds ONLY (min-of-3 needs one clean round per query — this makes
    // "clean" an observed property of the round, not of one instant);
    // degraded = no round is clean-bracketed, in which case the min
    // falls back to all rounds and the total is NOT comparable across
    // artifacts. A mid-round burst that both bracketing probes miss is
    // still possible — that residual risk is what queries_median − min
    // is stamped for. The min-based global ratios remain stamped as
    // auxiliary fields for comparability with r14-era artifacts.
    val SerialQuietMs = serialQuietMs
    val MemQuietMs = memQuietMs
    def sampleHealthy(i: Int): Boolean =
      probesPar(i) / probes(i) <= ParBar &&
        probes(i) / SerialQuietMs <= SerialBar &&
        probesMem(i) / MemQuietMs <= MemBar &&
        latQuietMs.forall(lq => probesLat(i) / lq <= LatBar)
    val cleanRounds = (0 until 3).filter(r => sampleHealthy(r) && sampleHealthy(r + 1))
    val degraded = cleanRounds.isEmpty
    val gateRounds = if (degraded) 0 until 3 else cleanRounds
    val byName = gateRounds.flatMap(roundSamples).groupBy(_._1)
    val results = order.map(n => n -> byName(n).map(_._2).min)
    // median alongside the min, over ALL rounds: for a deterministic
    // workload min is the least-noise point estimate, but median−min is
    // the in-run stall exposure per query — a query whose median ≫ min
    // sat in a degraded moment during some round even if its min looks
    // healthy
    val byNameAll = roundSamples.flatten.groupBy(_._1)
    val medians = order.map { n =>
      val xs = byNameAll(n).map(_._2).sorted
      n -> xs(xs.length / 2)
    }
    val ingestRate = 2e6 / gateRounds.map(ingestSecs).min

    // Storage efficiency vs BASELINE.md's ~5.3 B/sample (24 B raw at 4.5:1
    // under ClickHouse MergeTree): bytes of sample parquet on disk per
    // ingested sample. The samples table alone — the series dictionary is
    // amortized over the store's lifetime, exactly like the reference's
    // time_series table. Measured on round 0's dir (all rounds write
    // identical data); the temp dirs are removed afterwards.
    val samplesBytes = {
      val root = java.nio.file.Paths.get(ingestDirs.head, "samples")
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(p => p.toString.endsWith(".parquet"))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
        finally s.close()
      }
    }
    val bytesPerSample = samplesBytes / 2e6
    ingestDirs.foreach { d =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val probeJson = probes.map(p => f"$p%.0f").mkString("[", ",", "]")
    val probeParJson = probesPar.map(p => f"$p%.0f").mkString("[", ",", "]")
    val probeMemJson = probesMem.map(p => f"$p%.0f").mkString("[", ",", "]")
    val probeLatJson = probesLat.map(p => f"$p%.0f").mkString("[", ",", "]")
    val ingestJson = ingestSecs.map(s => f"$s%.2f").mkString("[", ",", "]")
    // Probe-normalized total: total × (nominal/measured serial stamp), so a
    // cross-round comparison is not hostage to a co-tenant window (r8's
    // "+25%" was a 1.37× degraded machine, proven only by hand-comparing
    // stamps across artifacts). Nominal is pinned to the median serial
    // stamp observed on a healthy run of this box (r7: 222–228 ms) and
    // recorded in the artifact, so the normalization is reproducible.
    val ProbeNominalMs = 225.0
    // true median (even-length arrays average the middle pair — the probe
    // array is length 4, so the upper-middle shortcut would bias the
    // normalization every run)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    val probeMed = median(probes.toSeq)
    val totalNorm = total * (ProbeNominalMs / probeMed)
    val probeParMed = median(probesPar.toSeq)
    val probeMemMed = median(probesMem.toSeq)
    val probeLatMed = median(probesLat.toSeq)
    // Min-based global ratios: AUXILIARY since r15 (the gate is the
    // clean-bracketed-rounds test above — see that comment). Stamped for
    // comparability with r13/r14-era artifacts, whose gates used these.
    val serialRatio = probes.min / SerialQuietMs
    val parRatio = probesPar.min / probes.min
    val memRatio = probesMem.min / MemQuietMs
    // lat: gating only when calibrated (LatBar); stamped either way
    val latRatio = latQuietMs.map(lq => probesLat.min / lq)
    val latStamp = latQuietMs.map(lq =>
      f""","probe_lat_quiet_ms":$lq%.0f,"probe_lat_ratio":${latRatio.get}%.2f,"probe_lat_gating":true""")
      .getOrElse(""","probe_lat_gating":false""")
    // The stdout line is tail-captured by the caller with a bounded buffer:
    // rounds 7 AND 8 proved the ~4 KB full per-query map outruns it (the
    // captured tail starts mid-map and the record parses as null). So the
    // LINE keeps the contract schema but its `queries` map carries only the
    // HEADLINE subset (~300 bytes — fits any buffer) plus a pointer to the
    // full artifact; the FILE carries everything including the
    // stall-diagnosis stamps (medians, probe_ms, probe_par_ms, rounds).
    val headline = Seq("q1_agg", "q5_range_scan", "a1_assembly",
      "rh2_rate_rollup", "t8_quality_gate", "d2_dedup_minhash_lsh",
      "d13_line_dedup", "s2_ann_lsh", "cur1_curation_manifest",
      "cur2_training_mix")
    val resMap = results.toMap
    val qsHead = headline.filter(resMap.contains)
      .map(k => "\"" + k + f"\":${resMap(k)}%.3f").mkString("{", ",", "}")
    val cleanRoundsJson = cleanRounds.mkString("[", ",", "]")
    // PINNABLE: a board is a valid cross-round reference only when ≥ 2
    // of its 3 rounds were clean-bracketed — with one clean round every
    // per-query number is a SINGLE sample, and the driver's r16 board
    // proved what that costs (cur2 4.49 s single-sample vs 2.52 s
    // min-of-3 on the same code). One clean round still yields honest
    // per-query ratios; it just must not become the pinned reference.
    val pinnable = cleanRounds.size >= 2
    val stampFields =
      f""""degraded":$degraded,"probe_gate":"clean_bracketed_rounds","probe_clean_rounds":$cleanRoundsJson,"probe_bars":{"par_serial":$ParBar%.2f,"serial_quiet":$SerialBar%.2f,"mem_quiet":$MemBar%.2f},"probe_par_ratio":$parRatio%.2f,"probe_serial_ratio":$serialRatio%.2f,"probe_mem_ratio":$memRatio%.2f,"probe_nominal_ms":$ProbeNominalMs%.0f,"probe_serial_quiet_ms":$SerialQuietMs%.0f,"probe_mem_quiet_ms":$MemQuietMs%.0f,"probe_ms_median":$probeMed%.0f,"probe_par_ms_median":$probeParMed%.0f,"probe_mem_ms_median":$probeMemMed%.0f,"probe_lat_ms_median":$probeLatMed%.0f$latStamp"""
    val line =
      f"""{"metric":"total","value":$total%.3f,"value_norm":$totalNorm%.3f,$stampFields,"unit":"sec","timing":"min_over_clean_rounds","n_gate_rounds":${cleanRounds.size},"pinnable":$pinnable,"queries":$qsHead,"n_queries":${results.size},"ingest_samples_per_sec":$ingestRate%.0f,"bytes_per_sample":$bytesPerSample%.2f,"sf":"$sfDir","full":"$fullPath"}"""
    val full =
      f"""{"metric":"total","value":$total%.3f,"value_norm":$totalNorm%.3f,$stampFields,"unit":"sec","timing":"min_over_clean_rounds","n_gate_rounds":${cleanRounds.size},"pinnable":$pinnable,"queries":$qs,"queries_median":$qsMed,"ingest_samples_per_sec":$ingestRate%.0f,"ingest_rounds_sec":$ingestJson,"probe_ms":$probeJson,"probe_par_ms":$probeParJson,"probe_mem_ms":$probeMemJson,"probe_lat_ms":$probeLatJson,"bytes_per_sample":$bytesPerSample%.2f,"sf":"$sfDir"}"""
    val latMsg = latRatio.map(r => f" lat $r%.2f").getOrElse(" lat(record-only)")
    if (degraded) System.err.println(
      f"[bench] DEGRADED WINDOW: no timing round was bracketed by two healthy probes " +
        f"(bars: par/serial>$ParBar%.1f = core-stealing, serial/quiet>$SerialBar%.1f = " +
        f"serial stall, mem/quiet>$MemBar%.1f = bandwidth co-tenant" +
        latQuietMs.map(_ => f", lat/quiet>$LatBar%.1f = LLC/TLB co-tenant").getOrElse("") +
        f"; min ratios this run: " +
        f"par $parRatio%.2f, serial $serialRatio%.2f, mem $memRatio%.2f,$latMsg) " +
        "— totals are not comparable across rounds; per-query ratios only")
    else System.err.println(
      s"[bench] healthy: clean-bracketed rounds $cleanRoundsJson of 3; " +
        f"min ratios par $parRatio%.2f serial $serialRatio%.2f mem $memRatio%.2f$latMsg")
    if (!degraded && !pinnable) System.err.println(
      "[bench] NON-PINNABLE: only one clean-bracketed round — every per-query " +
        "number is a single sample (no min-of-N). Usable for per-query ratios; " +
        "do NOT pin this board as the cross-round reference (pinnable:false).")
    // Primary channel: one bare JSON line on stdout (build.sbt sets
    // run/outputStrategy := StdoutOutput so sbt does not prefix it).
    println(line)
    refusePinned(fullPath) // a board pinned there while this one ran
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (full + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
