package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonStringSpec extends AnyFunSuite {
  test("jsonString: quotes and escapes an error message for a status line") {
    assert(Verify.jsonString("plain text: 1.5") == "\"plain text: 1.5\"")
    assert(Verify.jsonString("a \"q\" \\ b") == "\"a \\\"q\\\" \\\\ b\"")
    assert(Verify.jsonString("l1\nl2\t\u0001") == "\"l1\\nl2\\t\\u0001\"")
  }
}
