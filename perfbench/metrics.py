"""The benchmark's arithmetic: latency summaries, span unions and self
time, and the per-layer figures of a traced run."""
import math
import statistics
from collections import defaultdict

TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified
    Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the `q` quantile (0.0 for no samples):
    a mean of all order statistics, weighted by a Beta((n+1)q, (n+1)(1-q))
    distribution. It uses every sample, so the few requests of a run give
    a steadier estimate than a single order statistic."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(s, cdf, cdf[1:]))


def tail_is_reliable(xs, q=0.9, min_beyond=TAIL_MIN_BEYOND):
    """True when at least `min_beyond` samples lie above the `q` quantile,
    so that it does not rest on a handful of requests."""
    t = quantile(xs, q)
    return sum(1 for x in xs if x > t) >= min_beyond


def union_length(intervals, lo=None, hi=None):
    """Total length covered by closed intervals, optionally clipped to
    [lo, hi]."""
    ivs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            ivs.append((s, e))
    ivs.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the time its children cover inside it."""
    return (end - start) - union_length(children, start, end)


PER_LAYER = [
    ("core.planning_ms", "ms"), ("core.actions", "count"), ("core.jobs", "count"),
    ("core.tasks", "count"), ("core.job_ms", "ms"), ("core.gap_ms", "ms"),
    ("core.exec_self_ms", "ms"),
    ("core.storage_peak_mb", "MB"), ("core.persisted_rdds", "count"),
    ("sources.csv_ingest_ms", "ms"), ("sources.csv_useful_ratio", "ratio"),
    ("sources.input_bytes", "bytes"), ("sources.input_rows", "count"),
    ("sources.manifest_files_written", "count"),
    ("sources.manifest_bytes_written", "bytes"), ("sources.output_rows", "count"),
    ("operators.task_ms", "ms"), ("operators.cpu_ms", "ms"), ("operators.gc_ms", "ms"),
    ("operators.shuffle_write_bytes", "bytes"), ("operators.shuffle_read_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"), ("operators.failed_tasks", "count"),
    ("plans.exchanges", "count"), ("plans.reused_exchanges", "count"),
    ("plans.broadcast_joins", "count"), ("plans.smj_joins", "count"),
    ("pipelines.call_ms", "ms"), ("pipelines.collect_ms", "ms"),
    ("trace.overhead_ratio", "ratio"),
]

_OPERATOR_COUNTERS = ["task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes", "failed_tasks"]
_PLAN_COUNTERS = ["exchanges", "reused_exchanges", "broadcast_joins", "smj_joins"]


def attribute(requests, spans):
    """Group spans under the traced requests they belong to.

    A job belongs to the request its local property names. An SQL
    execution belongs to the request of its jobs or, if it ran none, to
    the request whose [start, end] holds its start. An action belongs to
    the request of its execution (same id)."""
    by_id = {r["id"]: r for r in requests}
    jobs = [s for s in spans if s["type"] == "job"]
    execs = {s["id"]: s for s in spans if s["type"] == "exec"}
    actions = [s for s in spans if s["type"] == "action"]
    out = {rid: {"jobs": [], "execs": [], "actions": []} for rid in by_id}
    exec_req = {}
    for j in jobs:
        if j["request"] in out:
            out[j["request"]]["jobs"].append(j)
            if j["exec"] is not None:
                exec_req.setdefault(j["exec"], j["request"])
    ordered = sorted(requests, key=lambda r: r["start_ms"])
    for eid, e in execs.items():
        rid = exec_req.get(eid)
        if rid is None:
            for r in ordered:
                if r["start_ms"] <= e["start"] <= r["end_ms"]:
                    rid = r["id"]
        if rid in out:
            exec_req[eid] = rid
            out[rid]["execs"].append(e)
    for a in actions:
        rid = exec_req.get(a["exec"])
        if rid in out:
            out[rid]["actions"].append(a)
    return out


def request_layers(r, s):
    """Per-layer figures of one traced request `r` with its spans `s`."""
    lo, hi = r["start_ms"], r["end_ms"]
    job_iv = [(j["start"], j["end"] if j["end"] >= 0 else hi) for j in s["jobs"]]
    job_ms = union_length(job_iv, lo, hi)
    exec_self = 0
    for e in s["execs"]:
        end = e["end"] if e["end"] >= 0 else hi
        kids = [iv for j, iv in zip(s["jobs"], job_iv) if j["exec"] == e["id"]]
        exec_self += self_time(e["start"], end, kids)
    f = {
        "core.planning_ms": sum(a["analysis_ms"] + a["optimization_ms"] + a["planning_ms"]
                                for a in s["actions"]),
        "core.actions": len(s["actions"]),
        "core.jobs": len(s["jobs"]),
        "core.tasks": sum(j["tasks"] for j in s["jobs"]),
        "core.job_ms": job_ms,
        "core.gap_ms": (hi - lo) - job_ms,
        "core.exec_self_ms": exec_self,
        "core.storage_peak_mb": r.get("storage_bytes", 0) / 2 ** 20,
        "core.persisted_rdds": r.get("persisted_rdds", 0),
        "sources.csv_ingest_ms": 1000.0 * r.get("ingest_s", 0.0),
        "sources.input_bytes": sum(j["input_bytes"] for j in s["jobs"]),
        "sources.input_rows": sum(j["input_rows"] for j in s["jobs"]),
        "sources.manifest_files_written": r.get("files_written", 0),
        "sources.manifest_bytes_written": r.get("bytes_written", 0),
        "sources.output_rows": sum(j["output_rows"] for j in s["jobs"]),
        "pipelines.call_ms": 1000.0 * r["call_s"],
        "pipelines.collect_ms": 1000.0 * r["sink_s"],
    }
    for k in _OPERATOR_COUNTERS:
        f["operators." + k] = sum(j[k] for j in s["jobs"])
    for k in _PLAN_COUNTERS:
        f["plans." + k] = sum(a[k] for a in s["actions"])
    return f


def overhead_ratio(requests):
    """Traced / untraced latency: per request name, the ratio of the two
    medians; the geometric mean of those ratios over the names timed both
    ways."""
    by = defaultdict(lambda: ([], []))
    for r in requests:
        by[r["name"]][0 if r["traced"] else 1].append(r["latency_s"])
    ratios = [median(t) / median(u) for t, u in by.values() if t and u]
    return geomean(ratios) if ratios else 1.0


def layer_means(requests, spans, useful=None):
    """Mean per traced request of every per-layer figure. `useful` is the
    (rows inside the window, rows parsed) sum for csv_useful_ratio."""
    traced = [r for r in requests if r["traced"] and r["error"] is None]
    groups = attribute(traced, spans)
    rows = [request_layers(r, groups[r["id"]]) for r in traced]
    out = {}
    for name, _ in PER_LAYER:
        vals = [x[name] for x in rows if name in x]
        out[name] = sum(vals) / len(vals) if vals else 0.0
    out["sources.csv_useful_ratio"] = (useful[0] / useful[1]
                                       if useful and useful[1] else 0.0)
    out["trace.overhead_ratio"] = overhead_ratio(
        [r for r in requests if r["error"] is None])
    return out
