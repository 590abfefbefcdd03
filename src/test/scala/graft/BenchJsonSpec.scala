package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON lines are parsed by machines; their numbers must not
  * follow the JVM's default locale.
  */
class BenchJsonSpec extends AnyFunSuite {
  test("jnum keeps a '.' decimal point under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.2f" == "1,50", "the default locale is not comma-decimal")
      assert(Bench.jnum(1.5) == "1.500")
      assert(Bench.jnum(1234.567, 2) == "1234.57")
      assert(Bench.jnum(9600 / 4.0, 0) == "2400")
    } finally Locale.setDefault(saved)
  }
}
