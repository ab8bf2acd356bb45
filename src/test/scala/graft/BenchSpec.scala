package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The bench record: locale-proof numbers, and a throwing lane is failed,
  * not fast. */
class BenchSpec extends AnyFunSuite {
  test("r3 prints a decimal point under a comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500") // the default locale is in effect
      assert(Bench.r3(1234.5678) == "1234.568")
    } finally Locale.setDefault(prev)
  }

  test("a lane that throws in any pass gets no time and is listed as failed") {
    var runs = 0
    val lanes = Seq[(String, () => Unit)](
      "ok" -> (() => ()),
      "flaky" -> (() => { runs += 1; if (runs == 2) throw new IllegalStateException("boom") }))
    val (results, failed) = Bench.timeLanes(lanes, passes = 3)
    assert(results.map(_._1) == Seq("ok"))
    assert(failed == Seq("flaky" -> "java.lang.IllegalStateException"))
  }
}
