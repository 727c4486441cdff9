package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contended verdict is a pure function of the two probe
  * readings and the pin — spec'd directly on the round-verdict
  * scenarios that motivated it (no SparkSession needed). The
  * deliberately-CPU-loaded manual check procedure lives in
  * docs/benchmarking.md; these are the exact numbers it produces. */
class BenchVerdictSpec extends AnyFunSuite {

  test("a genuinely 2x contended run flags under the default pin " +
      "(the r12 finding: 0.30's 0.75s trip-wire passed one)") {
    // healthy boxes measure 0.136-0.139; the new wire sits at
    // 2.5 x 0.15 = 0.375 (~2.7x true healthy) vs the old 0.75 (~5.5x)
    assert(Bench.contendedVerdict(Seq(0.40, 0.45), pin = 0.15),
      "~3x contention must flag")
    assert(Bench.contendedVerdict(Seq(0.50, 0.55), pin = 0.15),
      "the r12-verdict 2x-contended scenario (0.5s probes) must flag")
    // under the OLD 0.30 default the 0.5s scenario passed silently
    assert(!(math.max(0.50, 0.55) > 0.30 * Bench.CalibrationContendedFactor),
      "scenario sanity: the old wire would NOT have tripped")
  }

  test("min-of-probes tightens past the pin on a faster box: a healthy " +
      "first probe + mid-run contention spike flags") {
    // box healthy at 0.14; contention arrives mid-run, second probe 0.5:
    // effective = min(pin, 0.14) = 0.14, wire 0.35 < 0.5 -> contended
    assert(Bench.effectiveHealthySec(Seq(0.14, 0.50), pin = 0.15) === 0.14)
    assert(Bench.contendedVerdict(Seq(0.14, 0.50), pin = 0.15))
    // even with a loose legacy pin the derivation flags it
    assert(Bench.contendedVerdict(Seq(0.14, 0.50), pin = 0.30))
  }

  test("quiet reference-machine runs stay clean under the tighter pin") {
    // r10-r12 quiet readings and the r12 driver's elevated-but-usable
    // container (0.16-0.21) must NOT flag
    assert(!Bench.contendedVerdict(Seq(0.136, 0.139), pin = 0.15))
    assert(!Bench.contendedVerdict(Seq(0.164, 0.162), pin = 0.15))
    assert(!Bench.contendedVerdict(Seq(0.203, 0.142), pin = 0.15))
  }

  test("the result line stays valid JSON around an errored query whose " +
      "message carries control chars, and errored queries leave the " +
      "per-query maps and the per-query mean") {
    val results: Seq[Bench.QueryResult] = Seq(
      ("q_ok", 2.0, 0.5, None),
      ("q_ok2", 4.0, 0.25, None),
      ("q_bad", 0.001, 0.0,
        Some("SparkException: line1\r\n\tat x \"quoted\" back\\slash")))
    val line = Bench.resultLine(results, "\"passes\":5")
    // a strict parser: raw control chars inside strings are rejected
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(root.get("queries").size() == 2 &&
      !root.get("queries").has("q_bad"), line)
    assert(root.get("spread").size() == 2 &&
      !root.get("spread").has("q_bad"), line)
    assert(root.get("errors").get("q_bad").asText() ==
      "SparkException: line1\r\n\tat x \"quoted\" back\\slash")
    assert(root.get("n_errors").asInt() == 1 &&
      root.get("n_queries").asInt() == 3 &&
      root.get("passes").asInt() == 5)
    assert(root.get("value").asDouble() == 6.0)
    assert(Bench.secondsPerQuery(results) == 3.0)
  }
}
