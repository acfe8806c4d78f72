"""Seeded traffic corpus in the reference's native CSV layout, plus the
answer model the `traffic_api` workload is checked against.

Layout (one directory per seed):

    speed_base.csv                    camera sites, 8 fields
    TF_ZFZD_CASESPECIFICATION.csv     accidents, 20 quoted fields
    <YYYYMM>/<YYYYMM>CSYDATA.csv      speed-camera observations, 5 fields
    <YYYYMM>/<YYYYMM>SFZDATA.csv      toll-gate trips, 8 fields

The generator keeps its own ground truth (the parsed value of every row
it writes, or the fact that the row is malformed), so the answer model
never parses the CSV and shares no code with the engine's ingest. The
model encodes `pipelines.TrafficAnalytics`' documented semantics:

- accidentCount: CASE_TS in [start 00:00, end+1d 00:00] (both ends
  closed), bbox closed on both axes, count per hour. A non-numeric
  coordinate reads as 0.0 and an unparseable date as epoch 0; both rows
  are kept and simply never fall inside a query window here.
- overSpeedCount: month files from start to end; observations in
  [start, end+1d); site inside the bbox; joined to every trip of the
  same plate whose [ENTIME, EXTIME] holds the observation time (only
  trips from the selected month files); class thresholds 120/100 km/h.
- averageSpeed: "today" is the query date (not date - 30 days); the
  history window is [date-30d, date+1d) and includes today; classes have
  no speed threshold; avg per (hour, class) for time_point 1 (today)
  and 0 (window).

Malformed rows (about 1%) are only of kinds the ingest drops, or reads
as sentinels that can never match a query: empty key fields, garbage
timestamps, non-numeric measures, and rows cut short before a field
the query needs.
"""
import calendar
import json
import os
import datetime as dt

import numpy as np
import pandas as pd

FIRST_MONTH = (2016, 6)
N_MONTHS = 12
N_SITES = 400
N_PLATES = 6000
OBS_PER_MONTH = 10000
TRIPS_PER_MONTH = 3500
N_ACCIDENTS = 10000
MALFORMED_SHARE = 0.01
LON = (115.4, 117.6)
LAT = (39.4, 41.1)
PROVINCES = ["京", "津", "冀", "晋", "蒙"]
CORPUS_VERSION = "2"


def months():
    y, m = FIRST_MONTH
    out = []
    for _ in range(N_MONTHS):
        out.append((y, m))
        m += 1
        if m == 13:
            y, m = y + 1, 1
    return out


def month_tag(y, m):
    return f"{y:04d}{m:02d}"


def epoch(y, m, d=1):
    return calendar.timegm((y, m, d, 0, 0, 0))


def fmt_ts(secs):
    """`yyyy-MM-dd HH:mm:ss` (UTC) for an array of epoch seconds."""
    s = np.datetime_as_string(np.asarray(secs, dtype="int64").astype("datetime64[s]"),
                              unit="s")
    return [x.replace("T", " ") for x in s]


def zipf_weights(n, s, rng):
    w = 1.0 / np.arange(1, n + 1) ** s
    rng.shuffle(w)
    return w / w.sum()


def _malformed_mask(rng, n):
    return rng.random(n) < MALFORMED_SHARE


def generate(seed, out_dir):
    """Write the corpus for `seed` into `out_dir` and return the ground
    truth as a dict of pandas frames (valid rows only, parsed values)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # ---- sites -----------------------------------------------------------
    site_ids = np.array([f"S{i:04d}" for i in range(N_SITES)])
    lon = np.round(rng.uniform(*LON, N_SITES), 4)
    lat = np.round(rng.uniform(*LAT, N_SITES), 4)
    bad_site = _malformed_mask(rng, N_SITES)
    site_kind = rng.integers(0, 3, N_SITES)
    lines = []
    for i in range(N_SITES):
        head = f"G{i % 7 + 1},{i:03d},{site_ids[i]},{'NSEW'[i % 4]},Station{i},1"
        if not bad_site[i]:
            lines.append(f"{head},{lon[i]:.4f},{lat[i]:.4f}")
        elif site_kind[i] == 0:
            lines.append(f"{head},,")                      # empty coordinates
        elif site_kind[i] == 1:
            lines.append(f"{head},x{lon[i]:.4f},{lat[i]:.4f}")  # non-numeric
        else:
            lines.append(f"{head},{lon[i]:.4f}")           # cut short: no LAT
    _write(os.path.join(out_dir, "speed_base.csv"), lines)
    sites = pd.DataFrame({"site": site_ids[~bad_site], "lon": lon[~bad_site],
                          "lat": lat[~bad_site]})

    site_w = zipf_weights(N_SITES, 1.1, rng)
    plate_ids = np.array([f"{PROVINCES[i % 5]}{chr(65 + (i // 5) % 26)}{i:05d}"
                          for i in range(N_PLATES)])
    plate_w = zipf_weights(N_PLATES, 1.0, rng)

    obs_frames, trip_frames = [], []
    for (y, m) in months():
        tag = month_tag(y, m)
        lo = epoch(y, m)
        hi = epoch(y + (m == 12), m % 12 + 1)
        os.makedirs(os.path.join(out_dir, tag), exist_ok=True)

        # ---- toll trips --------------------------------------------------
        n = TRIPS_PER_MONTH
        plate = plate_ids[rng.choice(N_PLATES, n, p=plate_w)]
        en = rng.integers(lo, hi, n)
        ex = en + rng.integers(600, 5 * 3600, n)
        cls = rng.choice([1, 2, 3, 4], n, p=[0.6, 0.2, 0.1, 0.1])
        truck = rng.choice([0, 1], n, p=[0.7, 0.3])
        bad = _malformed_mask(rng, n)
        kind = rng.integers(0, 4, n)
        lines = []
        exf, enf = fmt_ts(ex), fmt_ts(en)
        for i in range(n):
            exs, ens = exf[i], enf[i]
            p = plate[i]
            if bad[i] and kind[i] == 0:
                p = ""                                     # empty plate
            elif bad[i] and kind[i] == 1:
                ens = "bad-time"
            elif bad[i] and kind[i] == 2:
                exs = "24:61"
            row = f"ST{i % 40:02d},{exs},ST{(i * 7) % 40:02d},{ens},{cls[i]},{p},{p}"
            if bad[i] and kind[i] == 3:
                lines.append(row)                          # cut short: no truck flag
            else:
                lines.append(f"{row},{truck[i]}")
        _write(os.path.join(out_dir, tag, f"{tag}SFZDATA.csv"), lines)
        ok = ~bad
        trip_frames.append(pd.DataFrame({
            "month": tag, "plate": plate[ok], "en": en[ok], "ex": ex[ok],
            "cls": cls[ok], "truck": truck[ok]}))

        # ---- speed observations -----------------------------------------
        n = OBS_PER_MONTH
        matched = rng.random(n) < 0.7
        trip_ix = rng.integers(0, TRIPS_PER_MONTH, n)
        t_lo = en[trip_ix]
        t_hi = np.minimum(ex[trip_ix], hi - 1)
        t_match = t_lo + (rng.random(n) * (t_hi - t_lo + 1)).astype(np.int64)
        t_free = rng.integers(lo, hi, n)
        ts = np.where(matched, t_match, t_free)
        oplate = np.where(matched, plate[trip_ix],
                          plate_ids[rng.choice(N_PLATES, n, p=plate_w)])
        site = site_ids[rng.choice(N_SITES, n, p=site_w)]
        clsd = np.clip(np.round(rng.normal(95, 22, n)), 20, 200).astype(np.int64)
        bad = _malformed_mask(rng, n)
        kind = rng.integers(0, 5, n)
        lines = []
        tsf = fmt_ts(ts)
        for i in range(n):
            s, p, t, v = site[i], oplate[i], tsf[i], str(clsd[i])
            flag = "1" if clsd[i] > 120 else "0"
            if bad[i]:
                k = kind[i]
                if k == 0:
                    s = ""
                elif k == 1:
                    p = ""
                elif k == 2:
                    t = "bad-time"
                elif k == 3:
                    v = "fast"
                else:
                    lines.append(f"{s},{p},{t}")           # cut short: no CLSD
                    continue
            lines.append(f"{s},{p},{t},{v},{flag}")
        _write(os.path.join(out_dir, tag, f"{tag}CSYDATA.csv"), lines)
        ok = ~bad
        obs_frames.append(pd.DataFrame({
            "month": tag, "site": site[ok], "plate": oplate[ok], "ts": ts[ok],
            "clsd": clsd[ok]}))

    # ---- accidents -------------------------------------------------------
    n = N_ACCIDENTS
    (y0, m0), (y1, m1) = months()[0], months()[-1]
    a_lo, a_hi = epoch(y0, m0), epoch(y1 + (m1 == 12), m1 % 12 + 1)
    near = rng.choice(N_SITES, n, p=site_w)
    alon = np.round(lon[near] + rng.normal(0, 0.03, n), 4)
    alat = np.round(lat[near] + rng.normal(0, 0.03, n), 4)
    ats = rng.integers(a_lo, a_hi, n)
    bad = _malformed_mask(rng, n)
    kind = rng.integers(0, 3, n)
    lines = []
    a_ts, a_lon, a_lat = ats.copy(), alon.copy(), alat.copy()
    atsf = fmt_ts(ats)
    for i in range(n):
        date, xs, ys = atsf[i], f"{alon[i]:.4f}", f"{alat[i]:.4f}"
        if bad[i] and kind[i] == 0:
            date, a_ts[i] = "unknown", 0                   # kept at epoch 0
        elif bad[i] and kind[i] == 1:
            xs, a_lon[i] = "E" + xs, 0.0                   # reads as 0.0
        f = [str(1 + i % 3), str(1000 * (i % 50)), f"C{i:06d}", date,
             str(1 + i % 4), str(100 + i % 9), f"G{i % 7 + 1}", f"K{i % 90}",
             "NS"[i % 2], str(i % 90), str(i % 1000), xs, ys,
             ["rear-end", "rollover", "side", "minor"][i % 4],
             str(i % 2), str(i % 3), str(i % 5), str(1 + i % 4),
             ["plain", "hill", "bridge"][i % 3], ["sunny", "rain", "fog"][i % 3]]
        if bad[i] and kind[i] == 2:
            f = f[:12]                                     # cut short: no LAT
            a_lat[i] = 0.0
        lines.append(",".join(f'"{v}"' for v in f))
    _write(os.path.join(out_dir, "TF_ZFZD_CASESPECIFICATION.csv"), lines)
    accidents = pd.DataFrame({"ts": a_ts, "lon": a_lon, "lat": a_lat})

    return {"sites": sites, "obs": pd.concat(obs_frames, ignore_index=True),
            "trips": pd.concat(trip_frames, ignore_index=True),
            "accidents": accidents}


def _write(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def ensure(seed, root):
    """Generate the corpus for `seed` under `root` once; later calls reuse
    it. Returns (corpus_dir, truth)."""
    d = os.path.join(root, f"traffic-v{CORPUS_VERSION}-{seed}")
    truth_path = os.path.join(d, "truth.pkl")
    if os.path.exists(truth_path):
        return d, pd.read_pickle(truth_path)
    tmp = d + ".partial"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    truth = generate(seed, tmp)
    pd.to_pickle(truth, os.path.join(tmp, "truth.pkl"))
    os.replace(tmp, d)
    return d, truth


# ---- request stream -----------------------------------------------------

KINDS = ("accident", "overspeed", "avgspeed")


def requests(seed, truth, n):
    """`n` seeded requests in equal shares of the three calls (each block
    of three is a permutation of them). Boxes are centred on a
    popularity-weighted site with a log-uniform half-width. Dates lean
    toward recent months; every window spans exactly two month files
    (the end date's month and the one before), so a call's cost depends
    on its parameters' data, not on how many files its dates happen to
    touch."""
    rng = np.random.default_rng(seed * 7919 + 17)
    ms = months()[1:]
    mw = np.arange(1, len(ms) + 1, dtype=float) ** 1.5
    mw /= mw.sum()
    sites = truth["sites"]
    sw = np.bincount(pd.Categorical(truth["obs"]["site"], categories=sites["site"]).codes
                     .clip(0), minlength=len(sites)).astype(float) + 1.0
    sw /= sw.sum()
    out = []
    while len(out) < n:
        for kind in rng.permutation(KINDS):
            c = rng.choice(len(sites), p=sw)
            hw = float(np.exp(rng.uniform(np.log(0.05), np.log(0.8))))
            hh = hw * float(rng.uniform(0.6, 1.4))
            box = (round(sites.lon[c] - hw, 3), round(sites.lon[c] + hw, 3),
                   round(sites.lat[c] - hh, 3), round(sites.lat[c] + hh, 3))
            y, m = ms[rng.choice(len(ms), p=mw)]
            if kind == "avgspeed":
                # d - 30 days falls in the previous month for d <= 30
                last = min(30, calendar.monthrange(y, m)[1])
                day = dt.date(y, m, int(rng.integers(1, last + 1)))
                out.append((kind, box, day.isoformat(), ""))
            else:
                end = dt.date(y, m, int(rng.integers(1, calendar.monthrange(y, m)[1] + 1)))
                prev = dt.date(y, m, 1) - dt.timedelta(days=1)
                start = dt.date(prev.year, prev.month, int(rng.integers(1, prev.day + 1)))
                out.append((kind, box, start.isoformat(), end.isoformat()))
    return out[:n]


def request_line(r):
    kind, (x0, x1, y0, y1), a, b = r
    return f"{kind}\t{x0!r}\t{x1!r}\t{y0!r}\t{y1!r}\t{a}\t{b}"


# ---- answer model -------------------------------------------------------

def _month_range(start, end_incl):
    out, (y, m) = [], (start.year, start.month)
    while (y, m) <= (end_incl.year, end_incl.month):
        out.append(month_tag(y, m))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _sec(d):
    return calendar.timegm((d.year, d.month, d.day, 0, 0, 0))


class Model:
    """Answers for the three calls, computed with DuckDB over the
    generator's ground truth."""

    def __init__(self, truth):
        import duckdb
        self.con = duckdb.connect()
        for k, v in truth.items():
            self.con.register(k, v)

    def _matched(self, box, lo, hi, tags):
        x0, x1, y0, y1 = box
        return f"""
          SELECT o.ts, o.clsd, t.cls, t.truck
          FROM obs o
          JOIN sites s ON o.site = s.site
          JOIN trips t ON t.plate = o.plate AND o.ts BETWEEN t.en AND t.ex
          WHERE o.ts >= {lo} AND o.ts < {hi}
            AND s.lon BETWEEN {x0!r} AND {x1!r} AND s.lat BETWEEN {y0!r} AND {y1!r}
            AND o.month IN ({",".join(repr(t) for t in tags)})
            AND t.month IN ({",".join(repr(t) for t in tags)})"""

    def answer(self, kind, box, a, b):
        """Rows as a sorted list of tuples, in the API's column order."""
        x0, x1, y0, y1 = box
        if kind == "accident":
            lo = _sec(dt.date.fromisoformat(a))
            hi = _sec(dt.date.fromisoformat(b) + dt.timedelta(days=1))
            q = f"""SELECT (ts // 3600) % 24 AS h, count(*) FROM accidents
                    WHERE ts BETWEEN {lo} AND {hi}
                      AND lon BETWEEN {x0!r} AND {x1!r} AND lat BETWEEN {y0!r} AND {y1!r}
                    GROUP BY 1"""
        elif kind == "overspeed":
            s, e = dt.date.fromisoformat(a), dt.date.fromisoformat(b)
            m = self._matched(box, _sec(s), _sec(e + dt.timedelta(days=1)),
                              _month_range(s, e))
            q = f"""SELECT h, ct, count(*) FROM (
                      SELECT (ts // 3600) % 24 AS h,
                        CASE WHEN cls = 1 AND truck = 0 AND clsd > 120 THEN '01'
                             WHEN cls > 1 AND truck = 0 AND clsd > 120 THEN '02'
                             WHEN cls = 1 AND truck = 1 AND clsd > 120 THEN '03'
                             WHEN cls > 1 AND truck = 1 AND clsd > 100 THEN '04' END AS ct
                      FROM ({m})) WHERE ct IS NOT NULL GROUP BY 1, 2"""
        else:
            d = dt.date.fromisoformat(a)
            s = d - dt.timedelta(days=30)
            today = _sec(d)
            m = self._matched(box, _sec(s), _sec(d + dt.timedelta(days=1)),
                              _month_range(s, d))
            q = f"""WITH c AS (
                      SELECT ts, (ts // 3600) % 24 AS h, clsd,
                        CASE WHEN cls = 1 AND truck = 0 THEN '01'
                             WHEN cls > 1 AND truck = 0 THEN '02'
                             WHEN cls = 1 AND truck = 1 THEN '03'
                             WHEN cls > 1 AND truck = 1 THEN '04' END AS ct
                      FROM ({m}))
                    SELECT h, ct, avg(clsd), 1 FROM c
                      WHERE ct IS NOT NULL AND ts >= {today} GROUP BY 1, 2
                    UNION ALL
                    SELECT h, ct, avg(clsd), 0 FROM c WHERE ct IS NOT NULL GROUP BY 1, 2"""
        return sorted(tuple(r) for r in self.con.execute(q).fetchall())


COLUMNS = {"accident": ("time_period", "accident_num"),
           "overspeed": ("time_period", "car_type", "overspeed_num"),
           "avgspeed": ("time_period", "car_type", "avg_speed", "time_point")}


def parse_response(kind, json_rows):
    cols = COLUMNS[kind]
    return sorted(tuple(json.loads(r)[c] for c in cols) for r in json_rows)


def same(got, exp):
    """Exact match, except float cells compare with a relative tolerance
    (the engine's average sums doubles in partition order)."""
    if len(got) != len(exp):
        return False
    for g, e in zip(got, exp):
        for a, b in zip(g, e):
            if isinstance(a, float) or isinstance(b, float):
                if abs(float(a) - float(b)) > 1e-9 * max(1.0, abs(float(b))):
                    return False
            elif a != b:
                return False
    return True


def window_rows(kind, a, b, truth):
    """(rows inside the call's date window, rows the call parses) for the
    call's fact input: the accident file, or the speed-camera files of
    the months it selects. Counted on the generator's ground truth, so
    their ratio shows how much parsing the month-file granularity
    wastes, independent of how the engine reads."""
    if kind == "accident":
        s, e = dt.date.fromisoformat(a), dt.date.fromisoformat(b)
        ts = truth["accidents"]["ts"].to_numpy()
        lo, hi = _sec(s), _sec(e + dt.timedelta(days=1))
        return int(((ts >= lo) & (ts <= hi)).sum()), len(ts)
    if kind == "avgspeed":
        e = dt.date.fromisoformat(a)
        s = e - dt.timedelta(days=30)
    else:
        s, e = dt.date.fromisoformat(a), dt.date.fromisoformat(b)
    obs = truth["obs"]
    ts = obs["ts"].to_numpy()[obs["month"].isin(_month_range(s, e)).to_numpy()]
    lo, hi = _sec(s), _sec(e + dt.timedelta(days=1))
    return int(((ts >= lo) & (ts < hi)).sum()), len(ts)
