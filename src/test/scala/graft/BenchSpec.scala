package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("bench seconds print with a '.' separator under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.2345}%.4f" == "1,2345") // the locale the formatter must not follow
      assert(Bench.decimal4(1.23451) == "1.2345")
      assert(Bench.decimal4(12345.0) == "12345.0000")
    } finally Locale.setDefault(saved)
  }
}
