package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Compares two benchmark artifacts and reports which per-query changes
  * are REAL under the instrument's own noise — the operational answer to
  * three rounds of 2-4× phantom swings (VERDICT r6-r8): a point-estimate
  * ratio can't distinguish a regression from host contention, but two
  * disjoint run distributions can.
  *
  * Accepted formats, auto-detected per file:
  *  1. Bench's `bench_result.json` (per-query median/min/max + raw
  *     runs, seconds);
  *  2. the driver wrapper `{"n":…,"rc":…,"tail":…,"parsed":{…}}` whose
  *     `parsed` holds that same record (VERDICT r10 missing-1: the
  *     driver's `BENCH_r*.json` series is the longitudinal record).
  * Query keys are normalized to the dense `qNN` prefix (unique by
  * ContractSpec's numbering guard), so a renamed query still joins.
  *
  * Decision rule, per query: a change is significant only when the run
  * ranges are disjoint by a margin — regression if `new.min > old.max ×
  * margin`, improvement if `new.max < old.min ÷ margin` (default margin
  * 1.30). With 3 runs a side this is deliberately conservative: every
  * observed old run must be faster than every observed new run by 30%
  * before we call it a regression. Everything else is "within noise" —
  * which is a finding too: it's what makes "no regression" claimable.
  *
  * Usage: `runMain graft.BenchDiff old.json new.json [margin]`. Prints
  * one JSON line; exit code 1 iff any regression is flagged, so the diff
  * can gate a CI step; 2 on wrong-artifact wiring (no comparable
  * queries).
  */
object BenchDiff {
  final case class Stats(median: Double, min: Double, max: Double,
                         contended: Boolean = false)

  /** Dense-prefix key ("q01_hourly_count" → "q01"): the join key
    * between two artifacts.
    */
  private def short(name: String): String = name.takeWhile(_ != '_')

  /** Unwrap the driver's `BENCH_r*.json` envelope via `parsed` (the
    * driver's own parse of Bench's stdout line). Any other root passes
    * through unchanged.
    */
  private[graft] def unwrap(root: JsonNode): JsonNode =
    if (root.path("queries").isObject) root
    else if (root.path("parsed").path("queries").isObject) root.path("parsed")
    else root

  private[graft] def queryStats(root: JsonNode): Map[String, Stats] =
    root.path("queries").properties().asScala.map { e =>
      val v = e.getValue
      short(e.getKey) -> Stats(v.path("median").asDouble(-1),
        v.path("min").asDouble(-1), v.path("max").asDouble(-1),
        // Bench's spread gate marks a query whose number is soft —
        // carried through so a verdict built on it says so
        v.path("contended").asBoolean(false))
    }.toMap

  /** Best single-thread canary time of a run, if the artifact has one:
    * Bench emits `canary.single_s` as [start, end] seconds. Min of the
    * two probes = the least contended moment of the session.
    */
  private[graft] def canarySingleMin(root: JsonNode): Option[Double] = {
    val arr = root.path("canary").path("single_s")
    if (arr.isArray && !arr.isEmpty)
      Some(arr.asScala.map(_.asDouble(Double.MaxValue)).min)
        .filter(_ > 0).filter(_ < Double.MaxValue)
    else None
  }

  sealed trait Verdict
  case object Regression extends Verdict
  case object Improvement extends Verdict
  case object WithinNoise extends Verdict
  case object NewlyErrored extends Verdict // ran before, errors now
  case object Recovered extends Verdict    // errored before, runs now

  /** Disjoint-range test: only the run envelopes decide, never the
    * medians alone — medians of overlapping distributions are noise.
    * A query that RAN in the old artifact and errors in the new one
    * (Bench's -1 sentinels) is the worst regression there is, not
    * noise — it fails the gate. The error check keys off the MEDIAN
    * sentinel, not min: a min of 0 is a measurement, and reading it as
    * "errored" reported 13 live queries as newly_errored on the first
    * r09/r10 driver-artifact diff.
    */
  private[graft] def classify(old: Stats, nw: Stats,
                              margin: Double): Verdict =
    if (old.median < 0 && nw.median < 0) WithinNoise // errored both sides
    else if (nw.median < 0) NewlyErrored
    else if (old.median < 0) Recovered
    else if (nw.min > old.max * margin) Regression
    else if (nw.max < old.min / margin) Improvement
    else WithinNoise

  /** CANARY NORMALIZATION (`--normalize`): scale the OLD session's
    * envelopes by the canary ratio before the disjoint test, so a
    * uniformly slower/faster HOST (the ambient-floor drift that costs
    * an adjudication pass every round) produces zero flags, while a
    * genuine per-query regression — which moves ON TOP of the floor —
    * still trips the same margin. Opt-in: normalization assumes the
    * drift is multiplicative and uniform (true of CPU-frequency /
    * noisy-neighbor floors, not of e.g. IO-only degradation), so the
    * un-normalized diff stays the default and the JSON records the
    * factor applied.
    */
  private[graft] def normalizeOld(oldStats: Map[String, Stats],
      canaries: (Option[Double], Option[Double]))
      : (Map[String, Stats], Option[Double]) = canaries match {
    case (Some(o), Some(n)) if o > 0 =>
      val r = n / o
      (oldStats.map { case (q, s) =>
        q -> (if (s.median < 0) s
              else s.copy(median = s.median * r, min = s.min * r,
                max = s.max * r))
      }, Some(r))
    case _ => (oldStats, None)
  }

  private[graft] def diffJson(oldStats: Map[String, Stats],
                              newStats: Map[String, Stats],
                              margin: Double,
                              canaries: (Option[Double], Option[Double]) =
                                (None, None),
                              normalizedBy: Option[Double] = None)
      : (String, Boolean) = {
    val common = oldStats.keySet.intersect(newStats.keySet).toSeq.sorted
    val classed = common.map { q =>
      (q, oldStats(q), newStats(q), classify(oldStats(q), newStats(q), margin))
    }
    def f(d: Double) = BigDecimal(d).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toString
    def cells(sel: Verdict) = classed.collect { case (q, o, n, v) if v == sel =>
      // a verdict built on a number Bench itself flagged contended
      // (spread gate exhausted its retries) carries the flag — the
      // envelope is still disjoint, but the reader should weigh it
      // against the canary before acting on it
      val cont = if (o.contended || n.contended) ""","contended":true"""
                 else ""
      s""""${Bench.esc(q)}":{"old_median":${f(o.median)},"new_median":${f(n.median)},"ratio":${f(n.median / o.median)}$cont}"""
    }.mkString(",")
    val nNoise = classed.count(_._4 == WithinNoise)
    val onlyOld = (oldStats.keySet -- newStats.keySet).size
    val onlyNew = (newStats.keySet -- oldStats.keySet).size
    val newlyErrored = classed.collect { case (q, _, _, NewlyErrored) => q }
    val recovered = classed.collect { case (q, _, _, Recovered) => q }
    val hasRegression =
      classed.exists(_._4 == Regression) || newlyErrored.nonEmpty
    // CPU-canary comparability: sessions whose fixed-compute probes
    // differ by more than the margin were not running on equivalent
    // effective CPU — their query deltas say as much about the host as
    // about the code. Annotation only; classification is unchanged
    // (disjoint envelopes are still disjoint), the flag tells the reader
    // how much weight the deltas can carry.
    val canJson = (canaries match {
      case (Some(o), Some(n)) =>
        val r = n / o
        s""","canary_ratio":${f(r)},"comparable":${r <= margin && r >= 1.0 / margin}"""
      case _ => s""","canary_ratio":null,"comparable":null"""
    }) + normalizedBy.fold("")(r => s""","normalized_by":${f(r)}""")
    def names(qs: Seq[String]) =
      qs.map(q => s""""${Bench.esc(q)}"""").mkString("[", ",", "]")
    val json = s"""{"metric":"bench_diff","margin":$margin,"compared":${common.size},"within_noise":$nNoise,"only_old":$onlyOld,"only_new":$onlyNew$canJson,"newly_errored":${names(newlyErrored)},"recovered":${names(recovered)},"regressions":{${cells(Regression)}},"improvements":{${cells(Improvement)}}}"""
    (json, hasRegression)
  }

  def main(args: Array[String]): Unit = {
    val normalize = args.contains("--normalize")
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: BenchDiff <old bench_result.json> <new bench_result.json> " +
        "[margin] [--normalize]")
    val margin = if (pos.length >= 3) pos(2).toDouble else 1.30
    require(margin >= 1.0,
      s"margin must be >= 1.0 (a multiplicative tolerance), got $margin")
    val mapper = new ObjectMapper()
    def root(p: String) =
      unwrap(mapper.readTree(Files.readString(Paths.get(p))))
    val (oldRoot, newRoot) = (root(pos(0)), root(pos(1)))
    val (oldStats0, newStats) = (queryStats(oldRoot), queryStats(newRoot))
    val rawCanaries = (canarySingleMin(oldRoot), canarySingleMin(newRoot))
    val (oldStats, normalizedBy) =
      if (normalize) normalizeOld(oldStats0, rawCanaries)
      else (oldStats0, None)
    val common = oldStats.keySet.intersect(newStats.keySet)
    // no overlap, or overlap with no usable stats on either side (e.g. a
    // scalebench artifact whose query objects lack median/min/max), means
    // a wiring mistake — a gate must not read that as "no regression"
    val usable = common.exists(q =>
      oldStats(q).median > 0 || newStats(q).median > 0)
    if (common.isEmpty || !usable) {
      System.err.println(s"BenchDiff: no comparable queries between " +
        s"${pos(0)} (${oldStats.size}) and ${pos(1)} (${newStats.size}) " +
        "- expected Bench's bench_result.json or a driver BENCH_r*.json " +
        "wrapper")
      sys.exit(2)
    }
    val (json, hasRegression) =
      diffJson(oldStats, newStats, margin, rawCanaries, normalizedBy)
    println(json)
    if (hasRegression) sys.exit(1)
  }
}
