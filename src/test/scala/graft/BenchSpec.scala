package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s one JSON line (stdout and BENCH.json) is parsed by
  * machines; its shape is a contract, pinned here byte for byte. */
class BenchSpec extends AnyFunSuite {

  test("Bench.line: names sorted, a failed query only in failures, " +
      "total the sum of the successful times") {
    val runs = Seq("q2" -> Some(0.5), "q10_b" -> None, "q1" -> Some(1.25),
      "q03" -> Some(2.0))
    assert(Bench.line(runs, "/data/sf0.1") ==
      """{"metric":"total","value":3.75,"unit":"sec",""" +
      """"queries":{"q03":2.0,"q1":1.25,"q2":0.5},"failures":["q10_b"],""" +
      """"sf":"/data/sf0.1"}""")
  }
}
