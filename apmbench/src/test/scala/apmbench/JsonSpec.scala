package apmbench

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("numbers stay valid JSON under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.2f" == "1,50") // the pitfall the writer avoids
      val s = Json.render(Map("wall_s" -> 1.5, "n" -> 1234567L, "xs" -> Seq(0.25, 2.0e-7)))
      assert(s == """{"wall_s":1.5,"n":1234567,"xs":[0.25,2.0E-7]}""")
    } finally Locale.setDefault(saved)
  }

  test("strings are escaped and non-finite numbers become null") {
    val newline = "\\" + "u000a"
    assert(Json.render(Seq("a\"b\\c\n", Double.NaN, None, true)) ==
      s"""["a\\"b\\\\c$newline",null,null,true]""")
  }
}
