package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout JSON line must stay valid JSON under any JVM locale:
  * a comma-decimal locale prints `%.2f` as `1,23`. */
class BenchLineSpec extends AnyFunSuite {
  test("the total line parses as JSON under Locale.GERMANY") {
    val saved = Locale.getDefault
    val line = try {
      Locale.setDefault(Locale.GERMANY)
      assert(f"${1.25}%.2f" === "1,25", "the locale hazard is not live in this JVM")
      Bench.totalLine(12.5, Seq("t_q01" -> 1.2346, "e_win_rank" -> -1.0),
        artifactBuildSec = 3.456, gateBlockers = 1, exonerated = 0,
        drift = 1.234, anchorRatio = 0.876, failed = 1, anchorMissing = 2,
        sfDir = "sf0.1")
    } finally Locale.setDefault(saved)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("value").asDouble === 12.5)
    assert(json.get("queries").get("t_q01").asText === "1.235")
    assert(json.get("queries").get("e_win_rank").asDouble === -1.0)
    assert(json.get("headline").get("t_q01").asDouble === 1.2346)
    assert(json.get("artifact_build_sec").asText === "3.46")
    assert(json.get("host_drift").asText === "1.23")
    assert(json.get("anchor_ratio").asText === "0.88")
    assert(json.get("gate_blockers").asInt === 1)
    assert(json.get("anchor_missing").asInt === 2)
    assert(json.get("sf").asText === "sf0.1")
  }
}
