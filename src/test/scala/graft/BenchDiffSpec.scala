package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper

/** BenchDiff is only useful if its significance rule actually separates
  * real movement from the 2-4x phantom swings documented in VERDICT
  * r6-r8 — these tests pin the rule: disjoint-by-margin run envelopes
  * decide, medians alone never do.
  */
class BenchDiffSpec extends AnyFunSuite {
  import BenchDiff._

  test("classify: overlapping ranges are noise even with a 3x median gap") {
    // the r7/r8 phantom shape: medians swing but min-of-new < max-of-old
    val old = Stats(median = 0.5, min = 0.4, max = 2.0)
    val nw = Stats(median = 1.6, min = 1.2, max = 1.9)
    assert(classify(old, nw, 1.3) == WithinNoise)
  }

  test("classify: disjoint ranges beyond the margin flag a regression") {
    val old = Stats(median = 0.5, min = 0.4, max = 0.6)
    val nw = Stats(median = 1.0, min = 0.9, max = 1.1)
    assert(classify(old, nw, 1.3) == Regression)
    // symmetric improvement
    assert(classify(nw, old, 1.3) == Improvement)
  }

  test("classify: disjoint but inside the margin stays noise") {
    val old = Stats(median = 0.50, min = 0.45, max = 0.55)
    val nw = Stats(median = 0.65, min = 0.60, max = 0.70)
    // 0.60 < 0.55 * 1.3 = 0.715 → not past the margin
    assert(classify(old, nw, 1.3) == WithinNoise)
  }

  test("classify: a query that newly errors IS a regression verdict") {
    // ran before, -1 sentinels now: the worst regression there is —
    // a gate that reads this as noise green-lights total breakage
    assert(classify(Stats(1, 1, 1), Stats(-1, -1, -1), 1.3) == NewlyErrored)
    assert(classify(Stats(-1, -1, -1), Stats(1, 1, 1), 1.3) == Recovered)
    assert(classify(Stats(-1, -1, -1), Stats(-1, -1, -1), 1.3) == WithinNoise)
  }

  test("a newly-errored query alone fails the gate") {
    val (_, hasRegression) = diffJson(
      Map("q" -> Stats(1, 1, 1)), Map("q" -> Stats(-1, -1, -1)), 1.3)
    assert(hasRegression)
  }

  test("canary comparability: matching probes pass, 2x apart fails") {
    val m = new ObjectMapper()
    def diff(cans: (Option[Double], Option[Double])) =
      m.readTree(diffJson(Map("q" -> Stats(1, 1, 1)),
        Map("q" -> Stats(1, 1, 1)), 1.3, cans)._1)
    val ok = diff((Some(0.20), Some(0.22)))
    assert(ok.path("comparable").asBoolean())
    assert(ok.path("canary_ratio").asDouble() == 1.1)
    val bad = diff((Some(0.20), Some(0.40)))
    assert(!bad.path("comparable").asBoolean())
    // either side missing (pre-canary artifact): null, not a verdict
    val unknown = diff((None, Some(0.2)))
    assert(unknown.path("comparable").isNull)
    assert(unknown.path("canary_ratio").isNull)
  }

  test("canarySingleMin reads Bench's canary field, min of start/end") {
    val m = new ObjectMapper()
    val root = m.readTree(
      """{"canary":{"single_s":[0.219,0.167],"par_s":[0.44,0.32]}}""")
    assert(canarySingleMin(root) == Some(0.167))
    assert(canarySingleMin(m.readTree("{}")).isEmpty)
  }

  test("driver wrapper: the committed r21 and r22 artifacts read in full") {
    // the driver's BENCH_r*.json keep Bench's full-name record under
    // "parsed"; both rounds must read through the full-format path
    val m = new ObjectMapper()
    def root(f: String) = BenchDiff.unwrap(m.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(f))))
    val (r21, r22) = (root("BENCH_r21.json"), root("BENCH_r22.json"))
    val (s21, s22) = (queryStats(r21), queryStats(r22))
    val common = s21.keySet.intersect(s22.keySet)
    assert(common.size == 207, common.size)
    assert(common.forall(_.matches("q[0-9]+")), common.toSeq.sorted.take(5))
    for (q <- common; st <- Seq(s21(q), s22(q)))
      assert(st.median >= 0 && st.min <= st.median && st.median <= st.max,
        s"$q: $st")
    assert(canarySingleMin(r21).exists(_ > 0))
    assert(canarySingleMin(r22).exists(_ > 0))
  }

  test("a clamped-to-0 envelope min is noise, never an error sentinel") {
    // a min of 0 is a measurement — the first r09/r10 driver diff
    // misread 13 such queries as newly_errored; only a negative MEDIAN
    // means the query errored
    val old = Stats(median = 0.4, min = 0.35, max = 0.45)
    val clamped = Stats(median = 0.4, min = 0.0, max = 1.0)
    assert(classify(old, clamped, 1.3) == WithinNoise)
    assert(classify(clamped, old, 1.3) == WithinNoise)
  }

  test("a verdict on a Bench-flagged contended number carries the flag") {
    val m = new ObjectMapper()
    val stats = queryStats(m.readTree(
      """{"queries":{"q01":{"median":2.0,"min":1.9,"max":2.1,
        |"runs":[1.9,2.0,2.1],"retries":2,"discarded":[9.9],
        |"contended":true}}}""".stripMargin))
    assert(stats("q01").contended)
    val (json, _) = diffJson(
      Map("q01" -> Stats(0.5, 0.4, 0.6)), stats, 1.3)
    val root = m.readTree(json)
    assert(root.path("regressions").path("q01").path("contended").asBoolean(),
      json)
    // quiet verdicts carry no flag at all (field omitted, not false)
    val (quiet, _) = diffJson(Map("q01" -> Stats(0.5, 0.4, 0.6)),
      Map("q01" -> Stats(2.0, 1.9, 2.1)), 1.3)
    assert(!quiet.contains("contended"), quiet)
  }

  test("end-to-end: parses Bench's fullJson format and emits one line") {
    val oldJson =
      """{"metric":"total","value":2.0,"unit":"sec","runs":3,
        |"stream_setup_s":0.1,"queries":{
        |"q1":{"median":0.5,"min":0.4,"max":0.6,"runs":[0.4,0.5,0.6]},
        |"q2":{"median":1.0,"min":0.9,"max":1.1,"runs":[0.9,1.0,1.1]},
        |"q3":{"median":1.0,"min":0.9,"max":1.1,"runs":[0.9,1.0,1.1]},
        |"q5":{"median":1.0,"min":0.9,"max":1.1,"runs":[0.9,1.0,1.1]}},
        |"errors":{},"sf":"/x"}""".stripMargin
    val newJson =
      """{"metric":"total","value":3.0,"unit":"sec","runs":3,
        |"stream_setup_s":0.1,"queries":{
        |"q1":{"median":1.0,"min":0.9,"max":1.1,"runs":[0.9,1.0,1.1]},
        |"q2":{"median":0.5,"min":0.4,"max":0.55,"runs":[0.4,0.5,0.55]},
        |"q4":{"median":1.0,"min":0.9,"max":1.1,"runs":[0.9,1.0,1.1]},
        |"q5":{"median":-1,"min":-1,"max":-1,"runs":[]}},
        |"errors":{"q5":"boom"},"sf":"/x"}""".stripMargin
    val m = new ObjectMapper()
    val (json, hasRegression) = diffJson(
      queryStats(m.readTree(oldJson)), queryStats(m.readTree(newJson)), 1.3)
    assert(hasRegression)
    assert(!json.contains("\n"))
    val root = m.readTree(json) // valid JSON
    assert(root.path("compared").asInt() == 3)
    assert(root.path("only_old").asInt() == 1)  // q3 dropped
    assert(root.path("only_new").asInt() == 1)  // q4 added
    assert(root.path("regressions").has("q1"))
    assert(root.path("improvements").has("q2"))
    assert(root.path("regressions").path("q1").path("ratio").asDouble() == 2.0)
    // q5 ran before and errors now: listed, and it alone fails the gate
    assert(root.path("newly_errored").get(0).asText() == "q5")
  }

  test("canary normalization: a uniformly slowed session produces zero flags") {
    // every query AND the canary 1.5× slower — pure host drift. The
    // raw diff flags regressions (1.5 > the 1.3 margin); normalizing
    // the old envelopes by the canary ratio makes the drift vanish,
    // while a query that ADDITIONALLY regressed 2× on top of the
    // floor still trips.
    val m = new ObjectMapper()
    def artifact(scale: Double, q3Extra: Double, canary: Double) =
      m.readTree(
        s"""{"metric":"total","value":3.0,"unit":"sec","runs":3,
          |"canary":{"single_s":[$canary,$canary]},
          |"queries":{
          |"q1":{"median":${1.0 * scale},"min":${0.95 * scale},"max":${1.05 * scale}},
          |"q2":{"median":${2.0 * scale},"min":${1.9 * scale},"max":${2.1 * scale}},
          |"q3":{"median":${1.0 * scale * q3Extra},"min":${0.95 * scale * q3Extra},"max":${1.05 * scale * q3Extra}}}}"""
          .stripMargin)
    val oldRoot = artifact(1.0, 1.0, 0.2)
    val newRoot = artifact(1.5, 2.0, 0.3) // host 1.5×; q3 also 2× worse
    val oldStats0 = queryStats(oldRoot)
    val newStats = queryStats(newRoot)
    val canaries = (canarySingleMin(oldRoot), canarySingleMin(newRoot))
    // raw: the drift reads as regressions on q1/q2 too
    val (_, rawFlag) = diffJson(oldStats0, newStats, 1.3, canaries)
    assert(rawFlag)
    // normalized: only the genuine q3 regression survives
    val (oldStats, nrm) = normalizeOld(oldStats0, canaries)
    assert(nrm.exists(r => math.abs(r - 1.5) < 1e-9))
    val (json, flag) = diffJson(oldStats, newStats, 1.3, canaries, nrm)
    val root = m.readTree(json)
    assert(flag && root.path("regressions").has("q3"))
    assert(!root.path("regressions").has("q1") &&
      !root.path("regressions").has("q2"),
      s"ambient drift still flagged: $json")
    assert(root.path("normalized_by").asDouble() == 1.5)
    // drift-only (no q3 extra): zero flags end to end
    val newQuiet = artifact(1.5, 1.0, 0.3)
    val (oldN, nrm2) = normalizeOld(oldStats0,
      (canaries._1, canarySingleMin(newQuiet)))
    val (json2, flag2) = diffJson(oldN, queryStats(newQuiet), 1.3,
      (canaries._1, canarySingleMin(newQuiet)), nrm2)
    assert(!flag2, s"uniform drift flagged: $json2")
    assert(m.readTree(json2).path("regressions").isEmpty)
  }
}
