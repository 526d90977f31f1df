package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private def parse(fields: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree("{" + fields + "}")

  test("canary: a healthy canary runs the query twice and records its time") {
    var runs = 0
    val sec = Bench.canarySec(() => runs += 1)
    assert(runs == 2)
    assert(sec.exists(_ >= 0.0))
    val j = parse(Bench.canaryFields(Some(0.1234), Some(0.2)))
    assert(j.get("canary_start_sec").asDouble() == 0.123)
    assert(j.get("canary_end_sec").asDouble() == 0.2)
    assert(!j.get("canary_failed").asBoolean())
  }

  test("canary: a failing canary query records canary_failed, not the time of a no-op") {
    val sec = Bench.canarySec(() => throw new IllegalStateException("q1_agg broken"))
    assert(sec.isEmpty)
    val j = parse(Bench.canaryFields(Some(0.15), sec))
    assert(j.get("canary_start_sec").asDouble() == 0.15)
    assert(j.get("canary_end_sec").isNull)
    assert(j.get("canary_failed").asBoolean())
  }
}
