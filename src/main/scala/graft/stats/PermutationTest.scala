package graft.stats

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Input sample: one observation + which side of the contrast it belongs to. */
case class Obs(value: Double, isTrue: Boolean)

/** Aggregation buffer: raw observations per side. Bounded by contrast group
  * size, NOT dataset size — the caller must route only small groups here
  * (the reference does the same: permutation only when min side >= 4,
  * main/mwas_general.py:404-419). `maxSide` is a hard guard against
  * accidentally collecting an unbounded vector on a skewed key. */
case class PermBuffer(t: ArrayBuffer[Double], f: ArrayBuffer[Double])

case class PermResult(statistic: Double, p_value: Double, method: String,
    n_true: Long, n_false: Long)

/** Two-sample permutation test on the difference of means, as a typed Spark
  * `Aggregator` (register with `functions.udaf`).
  *
  * Re-expresses the reference's scipy call
  * (`permutation_test(..., statistic=mean_diff, n_resamples=10000,
  * vectorized=True)`, main/mwas_general.py:413-419) Spark-natively:
  *
  *   - EXACT enumeration of all C(n, k) label assignments when that count is
  *     <= `exactCutoff` — deterministic and engine-independent (the reference
  *     explored the same cutoff idea, main/tests/permutation_test.py:25-78);
  *   - otherwise `resamples` Monte-Carlo permutations
  *     ([[PermutationTest.monteCarlo]]). Resample r draws from a SplitMix64
  *     stream whose state is derived from (seed, r), the seed from the
  *     pooled multiset's content and size only, so results are reproducible
  *     across runs/partitionings — scipy's global RNG is not, which is why
  *     parity with the reference is statistical, not bitwise (SURVEY §7.4.1).
  *     Every contrast over the same pooled multiset sees the same resamples
  *     (Westfall & Young's shared label permutations), which is what lets
  *     one shuffle per resample serve all of them.
  *
  * Two-sided p-value; the Monte-Carlo path uses the (hits+1)/(N+1)
  * correction, matching scipy's randomized estimator.
  */
class PermutationTest(resamples: Int = 10000, exactCutoff: Long = 20000,
    maxSide: Int = 1 << 20)
    extends Aggregator[Obs, PermBuffer, PermResult] {

  override def zero: PermBuffer = PermBuffer(ArrayBuffer.empty, ArrayBuffer.empty)

  override def reduce(b: PermBuffer, a: Obs): PermBuffer = {
    val side = if (a.isTrue) b.t else b.f
    if (side.length < maxSide) side += a.value
    b
  }

  override def merge(b1: PermBuffer, b2: PermBuffer): PermBuffer = {
    b1.t ++= b2.t.take(maxSide - b1.t.length)
    b1.f ++= b2.f.take(maxSide - b1.f.length)
    b1
  }

  override def finish(b: PermBuffer): PermResult = {
    val x = b.t.toArray
    val y = b.f.toArray
    PermutationTest.test(x, y, resamples, exactCutoff)
  }

  override def bufferEncoder: Encoder[PermBuffer] = Encoders.product[PermBuffer]
  override def outputEncoder: Encoder[PermResult] = Encoders.product[PermResult]
}

object PermutationTest {

  /** SplitMix64's golden-ratio increment and its output function
    * (Stafford's Mix13), as in `java.util.SplittableRandom`. */
  private final val Gamma = 0x9E3779B97F4A7C15L
  private def mix64(z: Long): Long = {
    val a = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    val b = (a ^ (a >>> 27)) * 0x94D049BB133111EBL
    b ^ (b >>> 31)
  }

  /** The statistic, mean(x) − mean(y), for sides given as their stored
    * values and their sizes `nx`, `ny` (at least the stored counts): a side
    * reads as its values followed by implicit zeros, which add nothing to
    * its sum. */
  def meanDiff(x: Array[Double], nx: Long, y: Array[Double],
      ny: Long): Double = {
    def sum(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      s
    }
    sum(x) / nx - sum(y) / ny
  }

  /** C(n, k) with overflow clamp. */
  def choose(n: Int, k: Int): Long = {
    val kk = math.min(k, n - k)
    var r = 1L
    var i = 1
    while (i <= kk) {
      r = r * (n - kk + i) / i
      if (r < 0 || r > (1L << 56)) return Long.MaxValue
      i += 1
    }
    r
  }

  /** One contrast: exact enumeration when C(n, nx) <= `exactCutoff`,
    * otherwise the one-contrast call of [[monteCarlo]].
    *
    * @param earlyStopAbove Monte-Carlo only: at deterministic checkpoints
    *        (1000, 2000, 5000 resamples) stop early if the p estimate
    *        already exceeds this bound. Callers that only CLASSIFY against
    *        a significance threshold pass a generous multiple of it (the
    *        pipeline uses 20×): a test reporting p ≈ 0.1 off 1000 samples
    *        instead of 10000 loses resolution only where the result is
    *        decisively insignificant — p near or below the threshold always
    *        runs the full budget. Infinity (default) = scipy-faithful fixed
    *        n_resamples. Deterministic: the checkpoint rule sees only the
    *        seeded RNG stream, never wall-clock or partitioning. */
  def test(x: Array[Double], y: Array[Double], resamples: Int,
      exactCutoff: Long,
      earlyStopAbove: Double = Double.PositiveInfinity): PermResult = {
    val nx = x.length
    val ny = y.length
    if (nx < 2 || ny < 2) {
      return PermResult(Double.NaN, Double.NaN, "insufficient", nx, ny)
    }
    val pooled = new Array[Double](nx + ny)
    System.arraycopy(x, 0, pooled, 0, nx)
    System.arraycopy(y, 0, pooled, nx, ny)
    val obs = meanDiff(x, nx, y, ny)
    val n = pooled.length

    if (choose(n, nx) <= exactCutoff) {
      val total = pooled.sum
      // p(side-of-size-nx assignment) from the sum of the chosen side alone:
      // meanDiff = s/nx - (total-s)/ny, so only the chosen side's sum matters.
      def diffFromSum(s: Double): Double = s / nx - (total - s) / ny
      val eps = 1e-12 * math.max(1.0, math.abs(obs))
      val absObs = math.abs(obs)
      // exact: enumerate every C(n, k) choice of the SMALLER side (same
      // combination count as the x-side walk — C(n,nx) == C(n,ny) over the
      // complement — but the inner sum is min(nx, ny) adds) via a
      // lexicographic combination walk over indices.
      val k = math.min(nx, ny)
      val sideIsX = k == nx
      val idx = Array.range(0, k)
      var hits = 0L
      var count = 0L
      var done = false
      while (!done) {
        var s = 0.0
        var i = 0
        while (i < k) { s += pooled(idx(i)); i += 1 }
        val sx = if (sideIsX) s else total - s
        if (math.abs(diffFromSum(sx)) >= absObs - eps) hits += 1
        count += 1
        // next combination
        var j = k - 1
        while (j >= 0 && idx(j) == n - k + j) j -= 1
        if (j < 0) done = true
        else {
          idx(j) += 1
          var m = j + 1
          while (m < k) { idx(m) = idx(m - 1) + 1; m += 1 }
        }
      }
      PermResult(obs, hits.toDouble / count, "permutation_exact", nx, ny)
    } else {
      // sort so the resampling stream is independent of input row order
      // (the statistic depends only on the multiset)
      java.util.Arrays.sort(pooled)
      monteCarlo(pooled, Array(nx), Array(obs), resamples, earlyStopAbove)(0)
    }
  }

  /** Monte-Carlo permutation p-values of every contrast over ONE pooled
    * multiset: contrast c puts `nx(c)` of the `sorted.length` values on its
    * x side and observed the mean difference `obs(c)`.
    *
    * Each resample is one partial Fisher–Yates shuffle of the pool, run only
    * as far as the largest side among the contrasts still running. Drawing
    * a size-k side determines both side sums (s and total − s), so contrast
    * c reads its side sum at its own k = min(nx, ny), the smaller side. The
    * swaps are undone after each resample, and resample r draws from its
    * own SplitMix64 state, the r-th output of a SplitMix64 stream seeded
    * from the pooled content and size only, each swap position bounded by
    * Lemire's multiply-shift (TOMACS 2019): no allocation per resample. So
    * contrast c's length-k prefix in resample r depends on the pool and r
    * alone, and its result is bit-identical to the one-contrast call
    * ([[test]] on its own sides): contrasts neither share state nor see
    * each other, only their draws.
    *
    * The (1000, 2000, 5000) early-stop checkpoints of [[test]] stay per
    * contrast; a stopped contrast leaves the running set and, if it had the
    * largest side, shortens every later shuffle.
    *
    * @param sorted the pooled values in `java.util.Arrays.sort` order */
  def monteCarlo(sorted: Array[Double], nx: Array[Int], obs: Array[Double],
      resamples: Int,
      earlyStopAbove: Double = Double.PositiveInfinity): Array[PermResult] = {
    val n = sorted.length
    val m = nx.length
    require(obs.length == m && nx.forall(v => v >= 1 && v < n),
      "every contrast needs 1 <= nx < the pool size, and one obs")
    // commutative content hash (Long addition is order-independent, unlike
    // FP summation). Not java.util.Random, whose per-draw AtomicLong CAS
    // was the r16 audit's 7.9 s straggler in mwas_pipeline_full. Every
    // consumer gate is statistical (3·SE bands, order-invariance, early-stop
    // equivalence): the stream must be deterministic, not any one sequence.
    var seed = 41L * n
    var total = 0.0
    sorted.foreach { v =>
      seed += java.lang.Double.doubleToLongBits(v) * Gamma
      total += v
    }
    // mixed first: the hash is linear in Gamma, so unmixed, two pools
    // whose bit sums differ by d would read each other's resamples d apart
    val base = mix64(seed)
    val k = Array.tabulate(m)(c => math.min(nx(c), n - nx(c)))
    val absObs = obs.map(math.abs)
    val eps = obs.map(o => 1e-12 * math.max(1.0, math.abs(o)))
    val hits = new Array[Long](m)
    // resamples drawn when contrast c stopped early; 0 while it runs
    val stoppedAt = new Array[Int](m)
    // running contrasts in ascending k: one pass over a resample's prefix
    // reads every side sum at its own length
    var running = (0 until m).sortBy(k(_)).toArray
    val work = sorted.clone()
    val swaps = new Array[Int](k.foldLeft(0)(math.max))
    var r = 0
    while (r < resamples && running.nonEmpty) {
      var state = mix64(base + (r + 1) * Gamma)
      val kMax = k(running.last)
      // the next running contrast to read, and its k (0 past the last)
      var next = 0
      var nextK = k(running(0))
      var s = 0.0
      var i = 0
      while (i < kMax) {
        // j uniform on [i, n): a 32-bit draw times the bound, redrawn while
        // its low word falls in the biased sliver (a division only then)
        val bound = (n - i).toLong
        state += Gamma
        var prod = (mix64(state) >>> 32) * bound
        if ((prod & 0xFFFFFFFFL) < bound) {
          val sliver = (0x100000000L - bound) % bound
          while ((prod & 0xFFFFFFFFL) < sliver) {
            state += Gamma; prod = (mix64(state) >>> 32) * bound
          }
        }
        val j = i + (prod >>> 32).toInt
        swaps(i) = j
        val tmp = work(i); work(i) = work(j); work(j) = tmp
        s += work(i)
        i += 1
        while (i == nextK) {
          val c = running(next)
          val sx = if (k(c) == nx(c)) s else total - s
          if (math.abs(sx / nx(c) - (total - sx) / (n - nx(c))) >=
              absObs(c) - eps(c)) hits(c) += 1
          next += 1
          nextK = if (next < running.length) k(running(next)) else 0
        }
      }
      // undo in reverse: every resample starts from the sorted pool
      while (i > 0) {
        i -= 1
        val j = swaps(i)
        val tmp = work(i); work(i) = work(j); work(j) = tmp
      }
      r += 1
      if ((r == 1000 || r == 2000 || r == 5000) && r < resamples)
        running = running.filter { c =>
          val stop = (hits(c) + 1).toDouble / (r + 1) > earlyStopAbove
          if (stop) stoppedAt(c) = r
          !stop
        }
    }
    Array.tabulate(m) { c =>
      val drawn = if (stoppedAt(c) > 0) stoppedAt(c) else r
      PermResult(obs(c), (hits(c) + 1).toDouble / (drawn + 1),
        if (stoppedAt(c) > 0) "permutation_mc_early" else "permutation_mc",
        nx(c), n - nx(c))
    }
  }
}
