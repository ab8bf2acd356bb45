package perfbench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class RecordLocaleSpec extends AnyFunSuite {
  test("a record rendered under de_DE parses back with the same numbers") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val text =
      try {
        assert(String.format("%.3f", Double.box(1.5)) == "1,500") // the hazard is real
        Json.render(Json.obj(
          "pass_s" -> 1234.5678, "tiny" -> 1.0e-7, "big" -> 3.0e12, "neg" -> -0.25,
          "count" -> 42L, "third" -> 1.0 / 3, "samples" -> Seq(0.1, 2.5),
          "hist" -> Map("1" -> 3L), "nan" -> Double.NaN))
      } finally Locale.setDefault(saved)
    val j = new ObjectMapper().readTree(text)
    assert(j.get("pass_s").doubleValue == 1234.5678)
    assert(j.get("tiny").doubleValue == 1.0e-7)
    assert(j.get("big").doubleValue == 3.0e12)
    assert(j.get("neg").doubleValue == -0.25)
    assert(j.get("count").longValue == 42L)
    assert(j.get("third").doubleValue == 1.0 / 3)
    assert(j.get("samples").get(1).doubleValue == 2.5)
    assert(j.get("hist").get("1").longValue == 3L)
    assert(j.get("nan").isNull)
  }
}
