package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate must ARM against the committed pin file.
  *
  * Round 12's gate never fired: its regexes required the compact `":"`
  * separator Bench itself emits, but the committed BENCH_BASELINE.json
  * is written with `": "` (json.dump style), so every "Pin <query>"
  * commit refreshed a file the gate could not read and the final run
  * printed "regression gate DISABLED". This spec parses the actual
  * committed artifact — not a synthetic fixture — so any future format
  * drift between the pin writer and the gate reader fails CI, not the
  * round. */
class BenchGateSpec extends AnyFunSuite {

  test("gate parses the committed BENCH_BASELINE.json pin") {
    val path = java.nio.file.Paths.get("BENCH_BASELINE.json")
    assert(java.nio.file.Files.exists(path), "committed pin file missing")
    val txt = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val (sf, queries) = Bench.parseBaseline(txt)
    assert(sf.nonEmpty, "pin 'sf' field did not parse -- gate would disarm")
    assert(queries.nonEmpty, "pin 'queries' map did not parse -- gate would disarm")
    // the pin is a full-suite record: it must cover (nearly) the whole
    // registry, and every parsed time must be a sane positive duration
    assert(queries.size >= SparkEntry.queries.size - 30,
      s"pin covers ${queries.size} of ${SparkEntry.queries.size} queries")
    assert(queries.values.forall(v => v > 0.0 && v < 600.0))
    // pinned names must be real registry names (catches truncated parses)
    val unknown = queries.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"pinned names not in registry: $unknown")
    // the pin's own "n" must agree with the parsed map size — the
    // truncation cross-check the gate prints a NOTICE for at runtime
    val n = """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    assert(n.contains(queries.size),
      s"pin declares n=$n but ${queries.size} queries parsed — truncation?")
  }

  test("gate parses both separator styles identically") {
    val compact = """{"metric":"total","value":1.5,"queries":{"a_q":0.25,"b_q":1.25},"sf":"/x/sf0.1"}"""
    val spaced = """{"metric": "total", "value": 1.5, "queries": {"a_q": 0.25, "b_q": 1.25}, "sf": "/x/sf0.1"}"""
    val got1 = Bench.parseBaseline(compact)
    val got2 = Bench.parseBaseline(spaced)
    assert(got1 == (("/x/sf0.1", Map("a_q" -> 0.25, "b_q" -> 1.25))))
    assert(got2 == got1)
  }

  test("gate ignores top-level keys and malformed blobs degrade to disarmed") {
    // top-level value/n/n_failed must not leak into the query map
    val (_, qs) = Bench.parseBaseline(
      """{"value": 9.0, "n": 3, "queries": {"q1": 1.0}, "n_failed": 0, "sf": "s"}""")
    assert(qs == Map("q1" -> 1.0))
    assert(Bench.parseBaseline("not json at all") == (("", Map.empty)))
    assert(Bench.parseBaseline("""{"queries": {}}""") == (("", Map.empty)))
  }

  test("a subset run names the record file it writes, not BENCH_FULL.json") {
    assert(Bench.recordFile(None) == "BENCH_FULL.json")
    assert(Bench.recordFile(Some(Set("dedup_minhash"))) == "BENCH_SUBSET.json")
  }
}
