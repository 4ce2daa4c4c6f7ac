package perfbench

import java.util.SplittableRandom

import graft.stats.PermutationTest

/** Single-threaded probes that report an operation count next to a time. */
object Kernel {

  final case class KernelResult(draws: Long, mcNs: Long, combos: Long,
      exactNs: Long) {
    def nsPerDraw: Double = if (draws == 0) 0.0 else mcNs.toDouble / draws
    def nsPerCombo: Double = if (combos == 0) 0.0 else exactNs.toDouble / combos
  }

  /** `PermutationTest.test` over a side-size distribution: (n, nTrue)
    * pairs of the permutation-routed contrasts. Monte-Carlo calls run
    * the full resample budget (no early stop), so draws are exactly
    * resamples × min side; exact calls enumerate C(n, k) combinations.
    * Inputs are zero-padded like the pipeline's (30 % zeros). The pass
    * runs `reps` times and the fastest pass is reported. */
  def microbench(sides: Seq[(Int, Int)], seed: Long, resamples: Int = 10000,
      reps: Int = 3): KernelResult = {
    val rng = new SplittableRandom(seed)
    val cases = sides.map { case (n, nTrue) =>
      def side(k: Int) = Array.fill(k)(
        if (rng.nextDouble() < 0.3) 0.0 else rng.nextDouble() * 20)
      (side(nTrue), side(n - nTrue), PermutationTest.choose(n, nTrue) <= 20000)
    }
    var draws = 0L
    var combos = 0L
    for ((x, y, exact) <- cases) {
      if (exact) combos += PermutationTest.choose(x.length + y.length, x.length)
      else draws += resamples.toLong * math.min(x.length, y.length)
    }
    var bestMc = Long.MaxValue
    var bestExact = Long.MaxValue
    var sink = 0.0
    for (_ <- 0 until reps) {
      var mc = 0L
      var ex = 0L
      for ((x, y, exact) <- cases) {
        val t = System.nanoTime()
        sink += PermutationTest.test(x, y, resamples, exactCutoff = 20000).p_value
        val dt = System.nanoTime() - t
        if (exact) ex += dt else mc += dt
      }
      bestMc = bestMc min mc
      bestExact = bestExact min ex
    }
    if (sink.isNaN) println(s"[perfbench] kernel sink $sink")
    KernelResult(draws, bestMc, combos, bestExact)
  }

  /** Host weather probe: a fixed xorshift chain that calls no program
    * code. Returns (ms, operations). */
  def calib(ops: Long = 200000000L): (Double, Long) = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0L
    while (i < ops) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t) / 1e6
    if (x == 0) println("[perfbench] calib sink")
    (ms, ops)
  }
}
