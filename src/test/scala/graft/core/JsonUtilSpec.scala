package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[JsonUtil.escape]] is the one JSON string escaper (journal payloads,
  * HTTP frame headers, the oracle SQL dump): a real JSON parser must read
  * every escaped string back to its input. */
class JsonUtilSpec extends AnyFunSuite {

  test("every control char, quote and backslash round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    val inputs = (0 until 0x20).map(_.toChar.toString) ++ Seq("\"", "\\")
    (inputs :+ inputs.mkString("a", "b", "c")).foreach { s =>
      val text = "\"" + JsonUtil.escape(s) + "\""
      assert(mapper.readValue(text, classOf[String]) == s,
        s"U+${s.map(c => f"${c.toInt}%04X").mkString(",")} escaped as $text")
    }
  }
}
