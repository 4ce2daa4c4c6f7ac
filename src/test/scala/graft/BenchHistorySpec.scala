package graft

import org.scalatest.funsuite.AnyFunSuite

/** Which bench runs append to BENCH_HISTORY.jsonl: only a full,
  * unprofiled run that measured something. */
class BenchHistorySpec extends AnyFunSuite {

  test("a full unprofiled run appends its line") {
    assert(Bench.appendsHistory(anyMeasured = true, Map("HOME" -> "/h")))
  }

  test("a filtered, profiled or all-errored run does not append") {
    assert(!Bench.appendsHistory(anyMeasured = true,
      Map("SPARK_GRAFT_BENCH_ONLY" -> "q6_outer_join")))
    assert(!Bench.appendsHistory(anyMeasured = true,
      Map("SPARK_GRAFT_PROFILE" -> "100tb")))
    assert(!Bench.appendsHistory(anyMeasured = false, Map.empty))
  }
}
