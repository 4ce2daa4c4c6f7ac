package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Which bench runs append to BENCH_HISTORY.jsonl (only a full,
  * unprofiled run that measured something) and which rewrite
  * BENCH_FULL.json (every run but a filtered one). */
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

  test("a filtered run leaves BENCH_FULL.json and the history untouched; " +
      "a full run rewrites the one and appends to the other") {
    val dir = Files.createTempDirectory("bench-record").toFile
    def read(name: String): String =
      new String(Files.readAllBytes(new java.io.File(dir, name).toPath),
        "UTF-8")
    try {
      Bench.record("""{"full":1}""", anyMeasured = true, Map.empty, dir)
      Bench.record("""{"partial":1}""", anyMeasured = true,
        Map("SPARK_GRAFT_BENCH_ONLY" -> "q6_outer_join"), dir)
      assert(read("BENCH_FULL.json").trim === """{"full":1}""")
      assert(read("BENCH_HISTORY.jsonl") === "{\"full\":1}\n")
      // a profiled run still records its detail, but not its history line
      Bench.record("""{"profiled":1}""", anyMeasured = true,
        Map("SPARK_GRAFT_PROFILE" -> "100tb"), dir)
      assert(read("BENCH_FULL.json").trim === """{"profiled":1}""")
      assert(read("BENCH_HISTORY.jsonl") === "{\"full\":1}\n")
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
