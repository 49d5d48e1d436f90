package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout line is scraped by its consumers; it must stay
  * byte-for-byte. */
class BenchSpec extends AnyFunSuite {

  test("Bench.line: queries sorted by name, values %.3f, total their sum") {
    assert(Bench.line(Seq("zeta" -> 1.23456, "alpha" -> 0.5, "mid" -> 2.0), "/d/sf0.1") ==
      """{"metric":"total","value":3.735,"unit":"sec","queries":{"alpha":0.500,"mid":2.000,"zeta":1.235},"sf":"/d/sf0.1"}""")
  }

  test("Bench.line: a failed query (-1.0) makes the total -1.000") {
    assert(Bench.line(Seq("b" -> -1.0, "a" -> 0.25), "sf") ==
      """{"metric":"total","value":-1.000,"unit":"sec","queries":{"a":0.250,"b":-1.000},"sf":"sf"}""")
  }
}
