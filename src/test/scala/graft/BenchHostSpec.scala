package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact lines are parsed as JSON downstream: every key must be
  * a valid JSON string whatever characters a query name carries. */
class BenchHostSpec extends AnyFunSuite {

  test("jsonString escapes quotes, backslashes and control characters") {
    val raw = "q\"uote\\back\tslash\nline\u0001ctl\u001f end"
    val lit = BenchHost.jsonString(raw)
    assert(lit === "\"q\\\"uote\\\\back\\tslash\\nline\\u0001ctl\\u001f end\"")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"{$lit:1.5}")
    assert(parsed.fieldNames().next() === raw)
    assert(parsed.get(raw).asDouble() === 1.5)
  }
}
