package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("Json.str: every char U+0000–U+007F round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    (0 to 0x7f).foreach { c =>
      val s = s"a${c.toChar}b"
      assert(mapper.readValue(Json.str(s), classOf[String]) == s, f"U+$c%04X")
    }
    val all = (0 to 0x7f).map(_.toChar).mkString
    assert(mapper.readValue(Json.str(all), classOf[String]) == all)
  }
}
