package graft.stats

import scala.util.Random

import org.apache.commons.math3.stat.inference.TTest
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WelchTTest

class StatKernelSpec extends AnyFunSuite {

  private def stats(a: Array[Double]): (Double, Double, Double) = {
    val n = a.length.toDouble
    val m = a.sum / n
    val v = a.map(x => (x - m) * (x - m)).sum / (n - 1)
    (m, math.sqrt(v), n)
  }

  test("welch_t matches commons-math3 TTest (independent implementation)") {
    val rng = new Random(7)
    val tt = new TTest()
    for (_ <- 1 to 50) {
      val x = Array.fill(3 + rng.nextInt(40))(rng.nextGaussian() * 2 + 1)
      val y = Array.fill(3 + rng.nextInt(40))(rng.nextGaussian() * 3)
      val (m1, s1, n1) = stats(x)
      val (m2, s2, n2) = stats(y)
      val Some((t, _, p)) = WelchTTest.compute(m1, s1, n1, m2, s2, n2)
      assert(math.abs(t - tt.t(x, y)) < 1e-9)
      assert(math.abs(p - tt.tTest(x, y)) < 1e-9)
    }
  }

  test("welch_t guards degenerate inputs; zero variance mirrors scipy") {
    assert(WelchTTest.compute(1.0, 0.0, 1, 2.0, 1.0, 5).isEmpty) // n1 < 2
    // both variances zero: scipy's ttest_ind_from_stats pins the nan
    // Welch–Satterthwaite df to 1 and divides by the zero standard error
    // — ±inf and p = 0 when the means differ, nan/nan when they agree
    // (r9: the earlier None here silently dropped decisively-significant
    // constant-vs-constant contrasts)
    assert(WelchTTest.compute(1.0, 0.0, 5, 2.0, 0.0, 5)
      .contains((Double.NegativeInfinity, 1.0, 0.0)))
    assert(WelchTTest.compute(2.0, 0.0, 5, 1.0, 0.0, 5)
      .contains((Double.PositiveInfinity, 1.0, 0.0)))
    val Some((tEq, dfEq, pEq)) = WelchTTest.compute(2.0, 0.0, 5, 2.0, 0.0, 5)
      : @unchecked
    assert(tEq.isNaN && dfEq == 1.0 && pEq.isNaN)
  }

  /** Brute-force permutation oracle: independent enumeration via bitmasks. */
  private def bruteP(x: Array[Double], y: Array[Double]): Double = {
    val pooled = x ++ y
    val n = pooled.length
    val k = x.length
    val obs = x.sum / x.length - y.sum / y.length
    val eps = 1e-12 * math.max(1.0, math.abs(obs))
    var hits = 0
    var count = 0
    for (mask <- 0 until (1 << n) if Integer.bitCount(mask) == k) {
      var sx = 0.0
      var sy = 0.0
      for (i <- 0 until n) {
        if ((mask & (1 << i)) != 0) sx += pooled(i) else sy += pooled(i)
      }
      val d = sx / k - sy / (n - k)
      if (math.abs(d) >= math.abs(obs) - eps) hits += 1
      count += 1
    }
    hits.toDouble / count
  }

  test("exact permutation matches independent bitmask enumeration") {
    val rng = new Random(11)
    for (_ <- 1 to 20) {
      val x = Array.fill(3 + rng.nextInt(5))(rng.nextGaussian() + 0.5)
      val y = Array.fill(3 + rng.nextInt(5))(rng.nextGaussian())
      val r = PermutationTest.test(x, y, 10000, exactCutoff = 1000000)
      assert(r.method == "permutation_exact")
      assert(math.abs(r.p_value - bruteP(x, y)) < 1e-12,
        s"x=${x.mkString(",")} y=${y.mkString(",")}")
    }
  }

  test("monte-carlo permutation approximates the exact p") {
    val rng = new Random(13)
    val x = Array.fill(8)(rng.nextGaussian() + 0.8)
    val y = Array.fill(8)(rng.nextGaussian())
    val exact = PermutationTest.test(x, y, 0, exactCutoff = Long.MaxValue)
    val mc = PermutationTest.test(x, y, 20000, exactCutoff = 1)
    assert(mc.method == "permutation_mc")
    assert(math.abs(mc.p_value - exact.p_value) < 0.02,
      s"mc=${mc.p_value} exact=${exact.p_value}")
  }

  test("monte-carlo p is deterministic and order-independent") {
    val rng = new Random(17)
    val x = Array.fill(30)(rng.nextGaussian() + 0.3)
    val y = Array.fill(25)(rng.nextGaussian())
    val a = PermutationTest.test(x, y, 5000, exactCutoff = 1)
    val b = PermutationTest.test(x.reverse, y.reverse, 5000, exactCutoff = 1)
    assert(a.p_value == b.p_value)
  }

  test("early stop settles decisively-insignificant tests at a checkpoint " +
      "and never touches near-threshold ones") {
    val rng = new Random(19)
    // identical distributions → true p ≈ 1: stops at the first checkpoint
    val x0 = Array.fill(20)(rng.nextGaussian())
    val y0 = Array.fill(20)(rng.nextGaussian())
    val full = PermutationTest.test(x0, y0, 10000, exactCutoff = 1)
    val early = PermutationTest.test(x0, y0, 10000, exactCutoff = 1,
      earlyStopAbove = 0.1)
    assert(early.method === "permutation_mc_early")
    assert(early.p_value > 0.1)
    // still a valid estimate of the same quantity (checkpoint = 1000)
    assert(math.abs(early.p_value - full.p_value) < 0.1)

    // strongly separated → tiny p: the bound never triggers, full budget,
    // bit-identical to the unbounded run
    val x1 = Array.fill(20)(rng.nextGaussian() + 3.0)
    val y1 = Array.fill(20)(rng.nextGaussian())
    val fullSig = PermutationTest.test(x1, y1, 10000, exactCutoff = 1)
    val earlySig = PermutationTest.test(x1, y1, 10000, exactCutoff = 1,
      earlyStopAbove = 0.1)
    assert(earlySig.method === "permutation_mc")
    assert(earlySig.p_value === fullSig.p_value)
  }

  /** A sorted pool of `n` values, some of them repeated, the rest zeros. */
  private def pool(rng: Random, n: Int, nonzero: Int): Array[Double] = {
    val vs = Array.tabulate(n)(i =>
      if (i < nonzero) (1 + rng.nextInt(12)) * 0.5 else 0.0)
    java.util.Arrays.sort(vs)
    vs
  }

  /** A contrast over `vs`: the `nx` values at the shuffled positions `at`
    * form x, the rest y. */
  private def split(vs: Array[Double], at: Seq[Int],
      nx: Int): (Array[Double], Array[Double]) = {
    val (xi, yi) = at.splitAt(nx)
    (xi.map(vs).toArray, yi.map(vs).toArray)
  }

  /** One multi-contrast kernel call over the pool `vs`, contrasts given by
    * their sides. */
  private def monteCarlo(vs: Array[Double],
      contrasts: Seq[(Array[Double], Array[Double])], resamples: Int,
      bound: Double = Double.PositiveInfinity): Array[PermResult] =
    PermutationTest.monteCarlo(vs, contrasts.map(_._1.length).toArray,
      contrasts.map { case (x, y) =>
        PermutationTest.meanDiff(x, x.length, y, y.length)
      }.toArray, resamples, bound)

  test("a multi-contrast Monte-Carlo call equals the one-contrast test " +
      "of each contrast, early stops included") {
    val rng = new Random(23)
    val n = 48
    val vs = pool(rng, n, 30)
    // k from 4 to n/2, both polarities (x the smaller or the larger side),
    // over random splits (p spread over (0, 1)) and planted ones (the k
    // largest values: tiny p, full budget). Several early-stop bounds, so
    // some contrasts settle at each checkpoint
    val desc = vs.indices.sortBy(i => -vs(i))
    val contrasts = for {
      k <- 4 to n / 2
      xSmall <- Seq(true, false)
      at <- Seq(desc) ++ Seq.fill(4)(rng.shuffle(vs.indices.toVector))
    } yield {
      val (small, large) = split(vs, at, k)
      if (xSmall) (small, large) else (large, small)
    }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val stops = Seq(0.1, 0.2, 0.3, 0.4, 0.5).flatMap { bound =>
      val res = monteCarlo(vs, contrasts, 10000, bound)
      contrasts.zip(res).map { case ((x, y), r) =>
        val one = PermutationTest.test(x, y, 10000, exactCutoff = 1, bound)
        assert(r.method === one.method &&
          bits(r.p_value) === bits(one.p_value) &&
          bits(r.statistic) === bits(one.statistic) &&
          r.n_true === one.n_true && r.n_false === one.n_false,
          s"nx=${x.length} ny=${y.length} bound=$bound: $r vs $one")
        // an early stop reports the fixed-budget p of its checkpoint
        if (r.method == "permutation_mc") 10000
        else Seq(1000, 2000, 5000).find(c =>
          PermutationTest.test(x, y, c, exactCutoff = 1).p_value == r.p_value)
          .getOrElse(fail(s"no checkpoint gives $r"))
      }
    }
    assert(Set(1000, 2000, 5000, 10000).subsetOf(stops.toSet),
      stops.groupBy(identity).map { case (c, v) => c -> v.size })
  }

  test("monte-carlo p of several side sizes over one pool approximates " +
      "each exact p") {
    val rng = new Random(29)
    val n = 20
    val vs = pool(rng, n, 14)
    val at = rng.shuffle(vs.indices.toVector)
    val contrasts = Seq(4, 6, 8, 10, 13).map(split(vs, at, _))
    val mc = monteCarlo(vs, contrasts, 20000)
    contrasts.zip(mc).foreach { case ((x, y), r) =>
      val exact = PermutationTest.test(x, y, 0, exactCutoff = Long.MaxValue)
      assert(exact.method === "permutation_exact")
      assert(r.method === "permutation_mc")
      assert(math.abs(r.p_value - exact.p_value) < 0.02,
        s"nx=${x.length}: mc=${r.p_value} exact=${exact.p_value}")
    }
  }
}
