package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("str quotes and escapes quote, backslash and control characters") {
    assert(Json.str("plain") == "\"plain\"")
    assert(Json.str("a\"b") == "\"a\\\"b\"")
    assert(Json.str("a\\b") == "\"a\\\\b\"")
    assert(Json.str("l1\nl2\rl3\tl4") == "\"l1\\nl2\\rl3\\tl4\"")
    assert(Json.str("x\u0001y") == "\"x\\u0001y\"")
  }

  test("str output stays on one line and keeps non-ASCII text") {
    val s = Json.str("é\u001f\n")
    assert(!s.exists(_ < ' '))
    assert(s == "\"é\\u001f\\n\"")
  }
}
