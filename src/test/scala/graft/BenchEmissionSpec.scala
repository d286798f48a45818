package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures the LAST 2,000 bytes of Bench stdout and parses
  * the final line as the round's official perf record. BENCH_r17 and
  * BENCH_r19 both came back `parsed: null` because the final line
  * carried every per-query wall and outgrew that window as the headline
  * grew. This spec pins the r20 contract: the final line's byte size is
  * a function of FIXED fields only — independent of headline growth —
  * and stays under 1,900 bytes even at worst-case numeric widths.
  */
class BenchEmissionSpec extends AnyFunSuite {

  test("final line stays <1,900 B at worst-case field widths") {
    // every numeric field at an absurdly wide rendering: 5-digit totals,
    // negative sentinels, a long sf path, every headline query failed —
    // wider than any real run
    val walls = Bench.flagships.map(_ -> 99999.999).toMap
    val line = Bench.finalLine(
      total = 99999.999, walls = walls,
      calPre = (99999.999, 99999.999), calPost = (99999.999, 99999.999),
      bwPre = (99999.9, 99999.9), bwPost = (99999.9, 99999.9),
      contended = true, sharedTotal = 99999.999, sharedN = 69,
      retryTotal = 99999.999, failed = Bench.headline,
      sfDir = "/root/testdata/sf0.1/some/unusually/deep/dataset/directory")
    val n = line.getBytes("UTF-8").length
    assert(n < 1900, s"final line $n B — driver tail capture would truncate it")
    // generous headroom: the contract is fixed-size, not barely-fits
    assert(n < 1000, s"final line $n B — fixed-field record should be well under 1 KB")
  }

  test("final line is valid JSON with the driver-contract fields") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = Bench.finalLine(
      total = 42.112, walls = Map("ndsh_q1" -> 0.385, "ndsh_q6" -> 0.156),
      calPre = (0.418, 0.509), calPost = (0.667, 0.749),
      bwPre = (21.3, 48.7), bwPost = (14.2, 31.9),
      contended = true, sharedTotal = 42.112, sharedN = 69,
      retryTotal = 36.001, failed = Nil, sfDir = "/data/sf0.1")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("value").asDouble() == 42.112)
    assert(node.get("unit").asText() == "sec")
    assert(node.get("contended").asBoolean())
    assert(node.get("shared_set_total").asDouble() == 42.112)
    assert(node.get("shared_set_n").asInt() == 69)
    assert(node.get("shared_set_retry_total").asDouble() == 36.001)
    assert(node.get("queries").get("ndsh_q1").asDouble() == 0.385)
    // a flagship missing from the walls map renders as the -1 sentinel,
    // never a missing key (fixed schema)
    assert(node.get("queries").get("ndsh_q9").asDouble() == -1.0)
    assert(node.get("cal_post_single_s").asDouble() == 0.667)
    assert(node.get("cal_membw_allcores_gbps").asDouble() == 48.7)
    assert(node.get("cal_post_membw_allcores_gbps").asDouble() == 31.9)
    assert(node.get("failed").isArray && node.get("failed").size() == 0)
  }

  test("a failed query is named, and the measured count drops") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Bench.finalLine(
      total = 30.0, walls = Map("ndsh_q1" -> 0.385),
      calPre = (0.4, 0.5), calPost = (0.4, 0.5),
      bwPre = (20.0, 40.0), bwPost = (20.0, 40.0),
      contended = false, sharedTotal = 30.0, sharedN = 68,
      retryTotal = -1.0, failed = Seq("ndsh_q5"), sfDir = "/data/sf0.1"))
    assert(node.get("shared_set_n").asInt() == 68)
    assert(node.get("failed").get(0).asText() == "ndsh_q5")
    assert(node.get("queries").get("ndsh_q5").asDouble() == -1.0)
    // past the byte budget the list ends in a count of the names left out
    val all = mapper.readTree(Bench.finalLine(
      total = 0.0, walls = Map.empty, calPre = (0, 0), calPost = (0, 0),
      bwPre = (0, 0), bwPost = (0, 0), contended = false, sharedTotal = 0.0,
      sharedN = 0, retryTotal = -1.0, failed = Bench.headline, sfDir = "/d"))
      .get("failed")
    val shown = all.size() - 1
    assert(shown > 0 && shown < Bench.headline.size)
    assert(all.get(shown).asText() == s"+${Bench.headline.size - shown} more")
    assert((0 until shown).map(all.get(_).asText()) == Bench.headline.take(shown))
  }

  test("telemetry line puts the walls last among its per-query maps") {
    // the driver keeps only the tail of the output: with the walls
    // first, a cut line left the heap map where the walls should be
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = Bench.telemetryLine(
      Seq(("ndsh_q1", 0.385, 12L, 900L, 150.0), ("ndsh_q5", 1.25, 40L, 1200L, 90.0)),
      bwCleanGbps = 140.0, calRecheck = (-1.0, -1.0))
    val node = mapper.readTree(line)
    import scala.jdk.CollectionConverters._
    val maps = node.fieldNames().asScala.filter(node.get(_).isObject).toSeq
    assert(maps.last == "walls", s"per-query maps in emitted order: $maps")
    assert(maps.toSet == Set("gc_ms", "heap_mb", "membw_group_gbps",
      "membw_group_clean", "walls"))
    assert(node.get("walls").get("ndsh_q5").asDouble() == 1.25)
    assert(node.get("heap_mb").get("ndsh_q5").asLong() == 1200L)
    assert(!node.get("membw_group_clean").get("ndsh_q5").asBoolean())
  }

  test("flagship set is fixed, small, and inside the headline") {
    assert(Bench.flagships == Seq("ndsh_q1", "ndsh_q5", "ndsh_q6", "ndsh_q9"))
    assert(Bench.flagships.forall(Bench.headline.contains))
  }

  test("every headline query beyond the pinned 69 is excluded explicitly") {
    // the startup require enforces size == 69; this asserts the other
    // direction — the shared set is a SUBSET of the headline, so a
    // renamed query can't silently leave a stale exclusion behind
    assert(Bench.sharedSet69.subsetOf(Bench.headline.toSet))
  }
}
