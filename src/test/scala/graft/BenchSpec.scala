package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's adjudication baseline: the outlier/drift
  * re-time blocks compare against the committed same-host anchor
  * (`BENCH_ANCHOR.json`), never the rolling `BENCH_FULL_LATEST.json` — a
  * regression written into LATEST by an earlier sweep would read flat in
  * every later one — and only when the anchor was taken with this run's
  * cpus and scale factor.
  */
class BenchSpec extends AnyFunSuite {

  /** The anchor's raw text, from the test JVM's cwd: the repo root. */
  private def anchorText: String = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(Bench.AnchorPath)), "UTF-8")

  test("readLastRunQueries parses a bench artifact's queries block") {
    val f = java.nio.file.Files.createTempFile("graft_bench_", ".json")
    java.nio.file.Files.write(f,
      """{"metric":"total","value":3.5,"unit":"sec","rc":0,"queries":{"q_a":1.25,"q_b":2.25},"errors":{}}"""
        .getBytes("UTF-8"))
    val m = Bench.readLastRunQueries(f.toString)
    assert(m == Map("q_a" -> 1.25, "q_b" -> 2.25))
    java.nio.file.Files.delete(f)
  }

  test("readLastRunQueries returns empty on a missing file") {
    assert(Bench.readLastRunQueries("/nonexistent/graft_bench.json").isEmpty)
  }

  test("adjudication baseline is the committed anchor, only on a matching host") {
    val anchor = Bench.readLastRunQueries(Bench.AnchorPath)
    val cpus = "\"cpus\":(\\d+)".r.findFirstMatchIn(anchorText).get.group(1).toInt
    val sf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(anchorText).get.group(1)
    // the anchor alone, value for value: no LATEST entry can leak in
    assert(Bench.adjudicationBaseline(cpus, sf) == Some(anchor))
    // an anchor from another host or scale judges nothing
    assert(Bench.adjudicationBaseline(cpus + 1, sf).isEmpty)
    assert(Bench.adjudicationBaseline(cpus, sf + "_other").isEmpty)
    assert(Bench.adjudicationBaseline(cpus, sf, "/nonexistent/a.json").isEmpty)
    // a present anchor that does not parse fails instead of reading empty
    val bad = java.nio.file.Files.createTempFile("graft_bench_", ".json")
    java.nio.file.Files.write(bad, """{"metric":"total","cpus":4}""".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      Bench.adjudicationBaseline(cpus, sf, bad.toString))
    java.nio.file.Files.delete(bad)
  }

  test("only a clean full sweep writes LATEST, and the summary points there") {
    // one predicate decides both the LATEST write and the summary's
    // full_queries_in pointer: a failed or filtered run writes LASTRUN
    // only, so a LATEST pointer would name an earlier run's file
    assert(Bench.writesLatest(rc = 0, filtered = false))
    assert(!Bench.writesLatest(rc = 1, filtered = false))
    assert(!Bench.writesLatest(rc = 0, filtered = true))
    assert(!Bench.writesLatest(rc = 1, filtered = true))
  }

  test("the re-anchored gate file parses and covers the full query surface") {
    // BENCH_ANCHOR.json: one clean full sweep on this host. The pin: the
    // file stays in the "queries":{...} shape the harness's own parser
    // reads, is a clean run, and covers every declared query (an anchor
    // that silently lost entries would exempt them from adjudication).
    val anchor = Bench.readLastRunQueries(Bench.AnchorPath)
    assert(anchorText.contains("\"rc\":0,"))
    assert(anchor.values.forall(v => v > 0.0 && v < 600.0))
    val declared = SparkEntry.declared.map(_.name).toSet
    assert((declared -- anchor.keySet).isEmpty,
      s"queries missing from the anchor: ${declared -- anchor.keySet}")
  }
}
