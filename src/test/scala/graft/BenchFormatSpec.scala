package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** The bench's machine-read JSON must not depend on the JVM's default
  * locale: under de-DE a locale-sensitive `%.3f` writes `1234,568`, which
  * is not a JSON number. */
class BenchFormatSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def under[T](locale: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(locale)
    try body finally Locale.setDefault(saved)
  }

  private val values = Seq(0.0, 0.0004, 0.5, 1.23456, 1234.5678, 12345678.9)

  test("bench lines keep '.' decimals and parse as JSON under Locale.GERMANY") {
    val (line, regression) = under(Locale.GERMANY) {
      assert(f"${1.5}%.3f" == "1,500") // the hazard is live in this JVM
      (Bench.resultLine(1234.5678,
          Seq("q_b" -> (0.25, true), "q_a" -> (1.5, true), "q_c" -> (2.0, false)),
          """["q_c"]""", 1, "/data/sf0.1"),
        Bench.regressionJson("q_a", 0.5, 1.25, 2.5, 0.75, 1.125, "drift"))
    }
    // the exact text printed, then a strict JSON parse of it
    assert(line == """{"metric":"total","value":1234.568,"unit":"sec",""" +
      """"queries":{"q_a":1.500,"q_b":0.250,"q_c":-1},"failed":["q_c"],""" +
      """"single_sample":1,"sf":"/data/sf0.1"}""")
    assert(regression == """{"query":"q_a","prev":0.500,"cur":1.250,"ratio":2.50,""" +
      """"ab_min":0.750,"ab_norm_ratio":1.13,"verdict":"drift"}""")
    val root = mapper.readTree(line)
    assert(root.path("value").asDouble() == 1234.568)
    assert(root.path("queries").path("q_b").asDouble() == 0.25)
    assert(mapper.readTree(regression).path("ab_norm_ratio").asDouble() == 1.13)
  }

  test("fixed matches the f interpolator byte for byte under Locale.ENGLISH") {
    under(Locale.ENGLISH) {
      values.foreach { v =>
        assert(Bench.fixed(v, 3) == f"$v%.3f")
        assert(Bench.fixed(v, 2) == f"$v%.2f")
      }
    }
  }
}
