"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import filecmp
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402
import traffic  # noqa: E402


class Quantiles(unittest.TestCase):
    def test_beta_cdf_matches_closed_form(self):
        # I_x(2, 3) = 1 - (1-x)^4 - 4x(1-x)^3
        for x in (0.1, 0.4, 0.8):
            self.assertAlmostEqual(metrics.beta_cdf(2, 3, x),
                                   1 - (1 - x) ** 4 - 4 * x * (1 - x) ** 3, places=12)
        self.assertEqual(metrics.beta_cdf(2, 3, 0.0), 0.0)
        self.assertEqual(metrics.beta_cdf(2, 3, 1.0), 1.0)

    def test_harrell_davis_quantile(self):
        xs = list(range(1, 101))            # 1..100
        self.assertAlmostEqual(metrics.quantile(xs, 0.5), 50.5, places=9)
        self.assertAlmostEqual(metrics.quantile(xs, 0.9), 90.5, places=6)
        self.assertAlmostEqual(metrics.quantile([3, 1, 2], 0.5), 2.0, places=9)
        self.assertAlmostEqual(metrics.quantile([7.0] * 9, 0.9), 7.0, places=9)
        self.assertEqual(metrics.quantile([5.0], 0.9), 5.0)
        self.assertEqual(metrics.quantile([], 0.5), 0.0)
        # every sample weighs in: moving the top one moves the median a little
        self.assertLess(metrics.quantile([1, 2, 3, 4, 5], 0.5),
                        metrics.quantile([1, 2, 3, 4, 50], 0.5))

    def test_reliable_only_with_ten_samples_beyond(self):
        self.assertTrue(metrics.tail_is_reliable(list(range(1, 101))))    # 91..100 above 90.5
        self.assertFalse(metrics.tail_is_reliable(list(range(1, 91))))    # 82..90 above 81.5
        self.assertFalse(metrics.tail_is_reliable([1.0] * 200))           # none strictly above
        self.assertFalse(metrics.tail_is_reliable([0.5, 0.7, 2.0]))


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        # span 0..100; children 10..40 and 30..60 overlap (covered 50),
        # 90..120 sticks out of the span (covered 10 inside it)
        self.assertEqual(metrics.self_time(0, 100, [(10, 40), (30, 60), (90, 120)]), 40)
        self.assertEqual(metrics.self_time(0, 100, []), 100)

    def test_request_layers_job_union_and_gap(self):
        req = {"id": "r0", "start_ms": 1000, "end_ms": 1100, "traced": True,
               "error": None, "call_s": 0.01, "sink_s": 0.09, "name": "q",
               "latency_s": 0.1}
        def job(i, s, e, ex):
            j = {"type": "job", "id": i, "request": "r0", "exec": ex, "start": s, "end": e}
            j.update({k: 1 for k in ("tasks", "failed_tasks", "task_ms", "cpu_ms",
                                      "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                                      "spill_bytes", "input_bytes", "input_rows",
                                      "output_rows")})
            return j
        spans = [job(1, 1010, 1040, 7), job(2, 1030, 1050, 7), job(3, 1080, 1090, 8),
                 {"type": "exec", "id": 7, "start": 1005, "end": 1060},
                 {"type": "exec", "id": 8, "start": 1075, "end": 1095},
                 {"type": "exec", "id": 9, "start": 1096, "end": 1099},   # no jobs
                 {"type": "action", "exec": 7, "analysis_ms": 1, "optimization_ms": 2,
                  "planning_ms": 3, "exchanges": 2, "reused_exchanges": 1,
                  "broadcast_joins": 1, "smj_joins": 0, "func": "collect", "failed": False}]
        g = metrics.attribute([req], spans)["r0"]
        self.assertEqual(len(g["execs"]), 3)   # exec 9 attributed by time
        f = metrics.request_layers(req, g)
        self.assertEqual(f["core.job_ms"], 50)         # 1010..1050 + 1080..1090
        self.assertEqual(f["core.gap_ms"], 50)
        # exec 7: 55 - 40 covered; exec 8: 20 - 10; exec 9: 3
        self.assertEqual(f["core.exec_self_ms"], 15 + 10 + 3)
        self.assertEqual(f["core.planning_ms"], 6)
        self.assertEqual(f["core.jobs"], 3)
        self.assertEqual(f["plans.exchanges"], 2)

    def test_overhead_ratio_matches_names(self):
        rs = [{"name": "a", "traced": True, "latency_s": 2.0},
              {"name": "a", "traced": False, "latency_s": 1.0},
              {"name": "b", "traced": True, "latency_s": 1.0},
              {"name": "b", "traced": False, "latency_s": 2.0},
              {"name": "c", "traced": True, "latency_s": 9.0}]   # untraced never ran
        self.assertAlmostEqual(metrics.overhead_ratio(rs), 1.0)


class Generators(unittest.TestCase):
    def _tree(self, d):
        return sorted(os.path.relpath(os.path.join(a, f), d)
                      for a, _, fs in os.walk(d) for f in fs)

    def _same_bytes(self, a, b):
        self.assertEqual(self._tree(a), self._tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, self._tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_traffic_corpus_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            traffic.generate(5, os.path.join(t, "a"))
            traffic.generate(5, os.path.join(t, "b"))
            traffic.generate(6, os.path.join(t, "c"))
            self._same_bytes(os.path.join(t, "a"), os.path.join(t, "b"))
            f = os.path.join("201606", "201606CSYDATA.csv")
            self.assertFalse(filecmp.cmp(os.path.join(t, "a", f),
                                         os.path.join(t, "c", f), shallow=False))

    def test_query_passes_are_seeded_permutations(self):
        a = run.query_passes(run.LAKEHOUSE_DML, 1)
        self.assertEqual(a, run.query_passes(run.LAKEHOUSE_DML, 1))
        self.assertNotEqual(a, run.query_passes(run.LAKEHOUSE_DML, 2))
        for p in a:
            self.assertEqual(sorted(p), sorted(run.LAKEHOUSE_DML))

    def test_request_stream_is_seeded_and_balanced(self):
        with tempfile.TemporaryDirectory() as t:
            truth = traffic.generate(5, t)
        a = traffic.requests(1, truth, 300)
        self.assertEqual(a, traffic.requests(1, truth, 300))
        self.assertNotEqual(a, traffic.requests(2, truth, 300))
        kinds = [r[0] for r in a]
        self.assertEqual({k: kinds.count(k) for k in traffic.KINDS},
                         {k: 100 for k in traffic.KINDS})


class UsefulRatio(unittest.TestCase):
    def _truth(self):
        def sec(s):
            return int(dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp())
        obs = pd.DataFrame({
            "month": ["201606", "201606", "201607", "201607", "201608"],
            "ts": [sec("2016-06-10 08:00:00"), sec("2016-06-30 23:59:59"),
                   sec("2016-07-01 00:00:00"), sec("2016-07-20 10:00:00"),
                   sec("2016-08-02 10:00:00")]})
        acc = pd.DataFrame({"ts": [0, sec("2016-06-15 00:00:00"),
                                   sec("2016-06-16 00:00:00"), sec("2016-06-17 00:00:00")]})
        return {"obs": obs, "accidents": acc}

    def test_speed_window_over_selected_month_files(self):
        t = self._truth()
        # June..July files are parsed (4 rows); [06-30, 07-02) holds 2 of them
        self.assertEqual(traffic.window_rows("overspeed", "2016-06-30", "2016-07-01", t), (2, 4))
        # averageSpeed 2016-07-20: files June+July, window [06-20, 07-21)
        self.assertEqual(traffic.window_rows("avgspeed", "2016-07-20", "", t), (3, 4))

    def test_accident_window_is_closed_at_end_plus_one_day(self):
        t = self._truth()
        # [06-15 00:00, 06-16 00:00] both ends closed; epoch-0 row is parsed too
        self.assertEqual(traffic.window_rows("accident", "2016-06-15", "2016-06-15", t), (2, 4))


class Model(unittest.TestCase):
    def test_fixture_answers(self):
        """The answer model on FIXTURES §1's known-answer rows."""
        def sec(s):
            return int(dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp())
        truth = {
            "sites": pd.DataFrame({"site": ["SITE_A", "SITE_B", "SITE_C"],
                                   "lon": [116.30, 116.50, 120.10],
                                   "lat": [39.90, 39.50, 30.20]}),
            "obs": pd.DataFrame({
                "month": ["201606", "201606", "201606"],
                "site": ["SITE_A", "SITE_A", "SITE_B"],
                "plate": ["JA12345", "JB99999", "JC55555"],
                "ts": [sec("2016-06-15 08:12:00"), sec("2016-06-15 08:45:10"),
                       sec("2016-06-15 14:03:22")],
                "clsd": [130, 95, 110]}),
            "trips": pd.DataFrame({
                "month": ["201606", "201606"], "plate": ["JA12345", "JC55555"],
                "en": [sec("2016-06-15 08:00:00"), sec("2016-06-15 13:30:00")],
                "ex": [sec("2016-06-15 09:00:00"), sec("2016-06-15 15:00:00")],
                "cls": [1, 2], "truck": [0, 1]}),
            "accidents": pd.DataFrame({
                "ts": [sec("2016-06-15 08:30:00"), sec("2016-06-16 22:10:00"), 0],
                "lon": [116.40, 116.90, 116.40], "lat": [39.85, 39.10, 39.85]}),
        }
        m = traffic.Model(truth)
        box = (116.0, 117.0, 39.0, 40.0)
        self.assertEqual(m.answer("accident", box, "2016-06-01", "2016-06-30"),
                         [(8, 1), (22, 1)])
        self.assertEqual(m.answer("overspeed", box, "2016-06-01", "2016-06-30"),
                         [(8, "01", 1), (14, "04", 1)])
        self.assertEqual(m.answer("avgspeed", box, "2016-06-15", ""),
                         [(8, "01", 130.0, 0), (8, "01", 130.0, 1),
                          (14, "04", 110.0, 0), (14, "04", 110.0, 1)])


if __name__ == "__main__":
    unittest.main()
