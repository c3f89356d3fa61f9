package graft.tools

/** Host-interference calibration for benchmark runs on shared machines.
  *
  * The bench host demonstrably runs other tenants: identical back-to-back
  * runs of the SAME commit on the SAME data have produced 92 s / 195 s /
  * 283 s for one workload, with process CPU-seconds inflating in the same
  * ratio as wall — i.e. the JVM was scheduled but retired fewer
  * instructions per cycle (SMT-sibling and memory-bandwidth contention),
  * which no amount of in-process care can detect from the workload numbers
  * alone: a steady 2× slowdown applied uniformly to everything leaves no
  * trace in the spread of one run's own samples.
  *
  * This kernel is the external reference: a fixed, deterministic unit of
  * work — an ALU-bound FNV-1a fold plus a pseudo-random walk over a 64 MB
  * array (large enough to live in DRAM, so memory-bandwidth contention
  * shows up, small enough to allocate instantly) — timed single-threaded
  * before and after each benchmark run or heavy probe item (perfbench
  * stamps both readings on every run). Its wall-time is a pure
  * function of the host's delivered per-core throughput: on a quiet
  * machine it is flat across a sweep and across rounds; under co-tenant
  * load it inflates by the same factor the workloads do. Recording it per
  * item turns "this number is 3× last round's" into "the host delivered
  * 3× less per-core throughput during this item — compare cal-normalized".
  *
  * The work is self-checksummed (the fold result is returned with the
  * time) so a JIT can never dead-code it, and the buffer is touched
  * via a 4099-stride walk (co-prime with the 8 MiB long-count) so the
  * prefetcher can't hide DRAM latency.
  */
object HostCal {
  private val Longs = 8 * 1024 * 1024          // 64 MB of longs
  private val buf: Array[Long] = {
    val a = new Array[Long](Longs)
    var i = 0; var h = 0x100000001b3L
    while (i < Longs) { h = (h ^ i) * 0x100000001b3L; a(i) = h; i += 1 }
    a
  }

  /** One calibration unit: `passes` strided passes over the 64 MB buffer
    * interleaved with an FNV fold. Returns (seconds, checksum). Tuned so
    * the default is ~0.3–0.5 s on this class of core when quiet. */
  def unit(passes: Int = 6): (Double, Long) = {
    val t0 = System.nanoTime()
    var h = 0xcbf29ce484222325L
    var p = 0
    while (p < passes) {
      var i = (p * 17) % Longs
      var n = 0
      while (n < Longs / 4) {                   // quarter of the slots per pass
        h = (h ^ buf(i)) * 0x100000001b3L
        i += 4099; if (i >= Longs) i -= Longs
        n += 1
      }
      p += 1
    }
    ((System.nanoTime() - t0) / 1e9, h)
  }

  /** Warm the JIT + the buffer once per process; call before first use. */
  def warmup(): Unit = { unit(1); unit(1) }
}
