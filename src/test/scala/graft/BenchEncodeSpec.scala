package graft

/** Guards Bench's one record, `bench_result.json` (also its single
  * stdout line), and the shot-selection rules whose output it carries:
  * the median, the tightest window, the spread gate and the contended
  * flag.
  */
class BenchEncodeSpec extends SparkTestBase {

  test("median: odd picks middle, even averages, order-independent") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("qNN prefixes stay unique after truncation (driver keys by them)") {
    val keys = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    assert(keys.size === SparkEntry.queries.size,
      "two query names share a qNN prefix — BenchDiff's join would collide")
  }

  test("tightestWindow picks the minimum-spread k-window, fastest on tie") {
    // one contention outlier among 4 shots: the window routes around it
    assert(Bench.tightestWindow(Seq(1.0, 1.1, 6.3, 1.05), 3) ===
      Seq(1.0, 1.05, 1.1))
    // tie on spread → the faster window wins (contention only adds time)
    assert(Bench.tightestWindow(Seq(1.0, 2.0, 3.0, 4.0), 2) === Seq(1.0, 2.0))
    // k >= n returns everything
    assert(Bench.tightestWindow(Seq(2.0, 1.0), 5) === Seq(1.0, 2.0))
  }

  test("spread gate fires above 50% of median, never on a single shot") {
    assert(Bench.gated(Seq(1.0, 1.1, 1.7)))        // spread 0.7 > 0.55
    assert(!Bench.gated(Seq(1.0, 1.1, 1.2)))       // spread 0.2 < 0.55
    assert(!Bench.gated(Seq(9.9)))                 // runs=1: no envelope
    // absolute floor: a 60 ms envelope on a 100 ms query is jitter,
    // not contention — must not burn retry shots
    assert(!Bench.gated(Seq(0.10, 0.12, 0.16)))
  }

  test("spread gate tightens to 12% above a 2 s median (r13 heavy tier)") {
    // the r12 q108/q111 shape: ~0.7 s spread on a ~5 s median sat under
    // the 50% gate yet dominated residual bench noise — the heavy tier
    // gates it now (0.7 > 0.12 * 5.1)
    assert(Bench.gated(Seq(5.0, 5.1, 5.7)))
    // a quiet heavy query stays ungated (0.5 s < 0.612)
    assert(!Bench.gated(Seq(5.0, 5.1, 5.5)))
    // just under the heavy boundary keeps the base gate (spread 0.7
    // on median 1.9: 0.7 < 0.95 → quiet)
    assert(!Bench.gated(Seq(1.6, 1.9, 2.3)))
  }

  test("contended: a discarded faster shot flags the kept window") {
    // the tightest window sat in a contended stretch and threw away the
    // two quiet shots: 0.88 - 0.16 = 0.72 > 0.5 × 0.94
    val (window, retry) = Bench.settle(Seq(0.16, 0.16, 0.88, 0.94, 1.02), 3)
    assert(window === Seq(0.88, 0.94, 1.02))
    assert(retry === Some(Bench.Retry(2, Seq(0.16, 0.16), contended = true)))
    // one slow outlier discarded: the selection working as designed
    val (w2, r2) = Bench.settle(Seq(1.0, 1.05, 1.1, 6.3), 3)
    assert(w2 === Seq(1.0, 1.05, 1.1))
    assert(r2 === Some(Bench.Retry(1, Seq(6.3), contended = false)))
    // a faster discard inside the allowance is jitter, not contention
    // (1.0 - 0.9 = 0.1 < 0.5 × 1.05)
    assert(!Bench.settle(Seq(0.9, 1.0, 1.05, 1.1), 3)._2.exists(_.contended))
    // a quiet query with no extra shot carries no retry record
    assert(Bench.settle(Seq(1.0, 1.1, 1.05), 3) ===
      (Seq(1.0, 1.05, 1.1), None))
    // a still-gated window stays contended with nothing discarded
    assert(Bench.settle(Seq(1.0, 1.1, 1.7), 3)._2 ===
      Some(Bench.Retry(0, Nil, contended = true)))
  }

  test("retry record rides bench_result.json; quiet lines are unchanged") {
    val retries = Map("q01_agg" ->
      Bench.Retry(extra = 1, discarded = Seq(6.3), contended = false))
    val full = Bench.fullJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      Nil, 0.5, "/x", runs = 3, setupSec = 0.2, canary = Nil,
      retries = retries)
    assert(full.contains(""""retries":1,"discarded":[6.3],"contended":false"""),
      full)
    // no retries → no retry fields: a quiet record keeps the pre-gate shape
    val quiet = Bench.fullJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      Nil, 0.5, "/x", runs = 3, setupSec = 0.2)
    assert(!quiet.contains("\"retries\"") && !quiet.contains("\"contended\""),
      quiet)
  }

  test("full json carries every raw run per query") {
    val line = Bench.fullJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      Nil, 0.5, "/data/sf0.1", runs = 3, setupSec = 0.2)
    assert(line.contains(""""q01_agg":{"median":0.5,"min":0.4,"max":0.6,"runs":[0.5,0.6,0.4]}"""), line)
    assert(line.contains(""""stream_setup_s":0.2"""), line)
    // one line, so the stdout copy is the whole record
    assert(!line.contains('\n'))
    // the canary's start/end probes ride as named arrays
    val can = Seq(0.219, 0.442, 0.167, 0.325)
    val withCan = Bench.fullJson(Seq(("q01_agg", Seq(0.5))), Nil, 0.5, "/x",
      runs = 1, setupSec = 0.1, canary = can)
    assert(withCan.contains(""""canary":{"single_s":[0.219,0.167],"par_s":[0.442,0.325]}"""),
      withCan)
    // an erroring query keeps its -1 sentinels and its message
    val failed = Bench.fullJson(Seq(("q02_x", Nil)), List("q02_x" -> "boom"),
      0.0, "/x", runs = 3, setupSec = 0.1)
    assert(failed.contains(""""q02_x":{"median":-1,"min":-1,"max":-1,"runs":[]}"""),
      failed)
    assert(failed.contains(""""errors":{"q02_x":"boom"}"""), failed)
  }

  test("ExplainAudit.nodeCounts: node names only, codegen stars and headers stripped") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- == Initial Plan ==
        |   Sort [a#1 ASC], true
        |   +- Exchange rangepartitioning(a#1 ASC, 32)
        |      +- *(2) HashAggregate(keys=[a#1], functions=[count(1)])
        |         +- Exchange hashpartitioning(a#1, 32)
        |            +- *(1) HashAggregate(keys=[a#1], functions=[partial_count(1)])
        |               :- BroadcastHashJoin [a#1], [b#2], Inner
        |               +- FileScan parquet [a#1]""".stripMargin
    val counts = ExplainAudit.nodeCounts(plan)
    assert(counts === Map("AdaptiveSparkPlan" -> 1, "Sort" -> 1,
      "Exchange" -> 2, "HashAggregate" -> 2, "BroadcastHashJoin" -> 1,
      "FileScan" -> 1), counts.toString)
  }
}
