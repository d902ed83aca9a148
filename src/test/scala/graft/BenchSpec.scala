package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Numbers Bench prints for its parent process to parse back. */
class BenchSpec extends AnyFunSuite {

  test("Bench.decimal output parses as a Double under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // the JVM default really writes a decimal comma here
      assert(String.format("%.3f", Double.box(1234.5)) == "1234,500")
      Seq((1234.5678, 3), (0.25, 6), (12.0, 4)).foreach { case (v, places) =>
        val s = Bench.decimal(v, places)
        assert(!s.contains(','), s)
        assert(math.abs(s.toDouble - v) < math.pow(10, -places), s)
      }
    } finally Locale.setDefault(saved)
  }
}
