package graft.tools

/** Fixed single-threaded CPU workload (2^26 splitmix64 steps, ~240 ms
  * nominal on this sandbox) used as the machine-health stamp by Bench
  * (`probe_ms` in the JSON artifact) and BenchSubset (`probe_par_ms`). ONE
  * definition: the stamps are only comparable across artifacts while the
  * workload stays byte-identical — a stamp ≫2× nominal means that moment
  * sat in a degraded co-tenant window and nearby timings are noise. */
object MachineProbe {
  def stampMs(): Double = {
    var h = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) { h = graft.ext.ExtOps.splitmix64(h); i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.println("") // consume h: defeat DCE
    ms
  }

  /** MEMORY-bandwidth stamp: xor-fold 8 sequential passes over a
    * 256 MB long array (≈2 GB moved — far past every cache level, so
    * the time is the memory system's, not the core's). The splitmix
    * stamps are REGISTER-bound and blind to a co-tenant stealing
    * BANDWIDTH/LLC — a mode observed r14: serial and par CPU stamps
    * within 5% of nominal while every memory-bound scan ran a uniform
    * ~1.2× slow. This stamp inflates in exactly that mode. The buffer
    * allocates once per JVM (driver-side, 256 MB) and its init cost is
    * excluded. */
  def stampMemMs(): Double = {
    val a = memBuf
    val t0 = System.nanoTime()
    var pass = 0
    var acc = 0L
    while (pass < 8) {
      var i = 0
      while (i < a.length) { acc ^= a(i); i += 1 }
      pass += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) System.err.println("") // consume: defeat DCE
    ms
  }
  private lazy val memBuf: Array[Long] = {
    val a = new Array[Long](32 << 20) // 32M longs = 256 MB
    var i = 0
    var h = 0x9e3779b97f4a7c15L
    while (i < a.length) { h = graft.ext.ExtOps.splitmix64(h); a(i) = h; i += 1 }
    a
  }

  /** MEMORY-LATENCY stamp: 2^22 dependent pointer-chase steps through a
    * 64 MB random-cycle permutation (every load's address depends on
    * the previous load's VALUE — no prefetch, no ILP; the time is pure
    * cache-miss/TLB latency). The FOURTH co-tenant mode, found r15: two
    * same-day healthy-stamped boards ran a uniform ~1.15× apart while
    * serial ALU, 32-way ALU, and streaming BANDWIDTH all matched — a
    * co-tenant polluting LLC/TLB raises pointer-heavy code's latency
    * without touching ALU throughput or prefetched sequential bandwidth,
    * and Spark query code is exactly pointer-heavy. This stamp inflates
    * in exactly that mode. Cycle built once per JVM (Sattolo's
    * algorithm, splitmix-seeded, deterministic). */
  def stampLatMs(): Double = {
    val next = latBuf
    val t0 = System.nanoTime()
    var i = 0
    var p = 0
    while (i < (1 << 22)) { p = next(p); i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (p == -1) System.err.println("") // consume: defeat DCE
    ms
  }
  private lazy val latBuf: Array[Int] = {
    val n = 16 << 20 // 16M ints = 64 MB of pointers over a 16M-slot space
    val a = Array.tabulate(n)(identity)
    var h = 0x243f6a8885a308d3L
    var i = n - 1
    while (i > 0) { // Sattolo: one full cycle, so the chase never shortcuts
      h = graft.ext.ExtOps.splitmix64(h)
      val j = (((h % i) + i) % i).toInt // 0 <= j < i
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Parallel variant: wall-clock ms for `threads` concurrent copies of
    * the same workload. The single-thread stamp is blind to a co-tenant
    * STEALING CORES (one thread still gets a full core and reads nominal
    * while every 32-way query runs 1.3-2× slow — observed in the r7
    * bench: probes 236-257 ms, board-wide ×1.35 inflation); this stamp
    * inflates in exactly that mode. Nominal ≈ the single stamp when
    * `threads` ≤ free cores; stamp/nominal ≈ oversubscription factor. */
  def stampParMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var h = 0x9e3779b97f4a7c15L + i
        var j = 0
        while (j < (1 << 26)) { h = graft.ext.ExtOps.splitmix64(h); j += 1 }
        if (h == 42L) System.err.println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
