package graft.util

/** Host-load calibration sentinel (r12 verdict item #2: two consecutive
  * rounds shipped final sweep artifacts from a drifting host, and the
  * diagnosis each time was manual re-probing after the fact).
  *
  * [[spinSeconds]] times a FIXED single-threaded integer-mix loop —
  * pure CPU, no allocation, no I/O — so its wall time on an idle host
  * is a stable constant for a given JVM/CPU class, and the
  * before/after pair bracketing a sweep records the sweep's load
  * context inside the artifact itself: a ~1.2× uniform per-key drift
  * accompanied by a ~1.2× calibration inflation is host load, not a
  * code regression, decidable from the committed JSON alone.
  *
  * The loop body is the splitmix64-style xor-shift/multiply mix (two
  * 64-bit multiplies + shifts per iteration) — long-latency enough
  * that neither superscalar width nor SIMD hides host contention, and
  * the result feeds a volatile sink so the JIT cannot eliminate it.
  * Each call pre-spins 1/10 of the iterations untimed so the first
  * measurement isn't polluted by JIT compilation of its own loop. */
object Calibrate {
  /** Tuned to ~0.3–0.5 s on an idle host of this class (measured; see
    * CalibrateSpec which pins only determinism, not wall time). */
  final val Iters = 400000000L

  @volatile private var sink = 0L // defeats dead-code elimination

  private def spin(n: Long): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < n) {
      h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i
      i += 1L
    }
    h
  }

  /** Wall-clock seconds for the fixed spin (warmup pre-spin included
    * but untimed). */
  def spinSeconds(): Double = {
    sink = spin(Iters / 10L) // JIT/OSR warmup, untimed
    val t0 = System.nanoTime()
    sink = spin(Iters)
    (System.nanoTime() - t0) / 1e9
  }

  /** Disagreement ratio of a before/after pair: max/min, ≥ 1. */
  def ratio(a: Double, b: Double): Double =
    if (a <= 0 || b <= 0) Double.PositiveInfinity
    else math.max(a, b) / math.min(a, b)

  /** A sweep whose calibration pair disagrees by more than this is
    * load-contaminated: its numbers carry unknown host drift. */
  final val DriftLimit = 1.2

  /** The spin timed in a FRESH subprocess JVM — the sentinel variant
    * Bench and Steady use (r14). Measured instrument bug with the
    * in-JVM spin (CalProbe, commit b729cb2, this host class): after 60 s of
    * 32-thread load INSIDE a JVM, that JVM's single-thread spin reads
    * 1.27–1.32× its fresh value and NEVER recovers (flat through 6 min
    * of idle), while fresh JVMs started on the same host during that
    * window read the idle constant (0.86 s ± 2%, four consecutive
    * launches) — so an end-of-sweep in-JVM spin measures residual JVM
    * state, not host load, and a long multi-core sweep FALSE-REFUSES
    * against [[DriftLimit]] on a genuinely idle host (two r14 Steady
    * runs: before 0.86 fresh, after 1.12–1.16 in-JVM, ratio ~1.3,
    * while per-key medians sat a uniform 1.12× of the r13 reference —
    * ambient, not mid-sweep drift). A subprocess pays ~0.3 s of JVM
    * startup per probe and removes the bias entirely; falls back to
    * the in-JVM spin (loudly) if the subprocess cannot start. */
  def spinSecondsIsolated(): Double = {
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val p = new ProcessBuilder(javaBin, "-XX:+UseSerialGC", "-Xmx64m",
        "-cp", cp, "graft.util.CalibrateChild").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = p.waitFor()
      val v = out.trim.split("\\s+").last.toDouble
      require(rc == 0 && v > 0, s"calibrate child rc=$rc out=$out")
      v
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[calibrate] subprocess spin failed (${e.getMessage}); falling back to in-JVM spin")
        spinSeconds()
    }
  }
}

/** Child entry point for [[Calibrate.spinSecondsIsolated]]: prints the
  * spin seconds of a fresh JVM and exits. */
object CalibrateChild {
  def main(args: Array[String]): Unit =
    // Double.toString, not an f-interpolation: the f formatter is
    // default-locale dependent, and a comma-decimal locale would make
    // the parent's toDouble throw — silently reinstating the biased
    // in-JVM fallback this subprocess exists to avoid (r14 advice).
    println(java.lang.Double.toString(Calibrate.spinSeconds()))
}
