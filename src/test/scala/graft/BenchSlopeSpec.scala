package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench slope leg's JSON fragment: a rep that failed is never
  * reported as part of a median. */
class BenchSlopeSpec extends AnyFunSuite {

  test("one failing rep gives no median and one errors entry") {
    val frag = Bench.slopeFragment("/d/x10", Seq(
      "ok" -> Seq(Some(3.0), Some(1.0), Some(2.0)),
      "bad" -> Seq(Some(1.0), None, Some(1.0))))
    assert(frag ==
      ""","slope":{"dir":"/d/x10","queries":{"ok":2.000},"errors":["bad"]}""")
  }

  test("all reps passing leaves errors empty") {
    val frag = Bench.slopeFragment("/d", Seq("q" -> Seq(Some(4.0))))
    assert(frag == ""","slope":{"dir":"/d","queries":{"q":4.000},"errors":[]}""")
  }
}
