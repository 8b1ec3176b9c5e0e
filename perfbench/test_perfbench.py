"""Self-tests of the benchmark's own code. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import re
import tempfile
import unittest
from unittest import mock

import gen
import stats


class GeneratorTest(unittest.TestCase):

    def _days(self, root, seed):
        d = os.path.join(root, str(seed) + "-" + str(len(os.listdir(root))))
        gen.reddit_days(d, seed)
        return d

    def test_same_seed_gives_identical_csvs(self):
        with tempfile.TemporaryDirectory() as root:
            a, b = self._days(root, 7), self._days(root, 7)
            names = sorted(os.listdir(a))
            self.assertEqual(names, ["day_00.csv", "day_01.csv", "day_02.csv", "days.tsv"])
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_csvs(self):
        with tempfile.TemporaryDirectory() as root:
            a, b = self._days(root, 7), self._days(root, 8)
            for name in ["day_00.csv", "day_01.csv", "day_02.csv"]:
                self.assertFalse(filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                                             shallow=False))

    def test_days_carry_the_traffic_the_engine_depends_on(self):
        with tempfile.TemporaryDirectory() as root:
            account, posts = gen.reddit_days(root, 3)
            self.assertTrue(all(1 <= a["bad"] < 100 for a in account))
            ids = [p["id"] for p in posts]
            self.assertEqual(len(ids), len(set(ids)))
            # base36 ids of one width rise with creation time
            by_time = sorted(posts, key=lambda p: (p["created_utc"], p["id"]))
            self.assertEqual([p["id"] for p in by_time], sorted(ids))
            self.assertGreater(sum("\n" in p["selftext"] for p in posts), len(posts) // 2)
            self.assertTrue(any(p["author"] is None for p in posts))
            # later days re-fetch earlier ids
            self.assertGreater(account[1]["records"], gen.POSTS_PER_DAY)

    def test_catalog_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as root:
            a, b = os.path.join(root, "a"), os.path.join(root, "b")
            # a hundredth of the row counts keeps the test quick
            small = {k: v // 100 for k, v in gen.SF01_ROWS.items()}
            with mock.patch.dict(gen.SF01_ROWS, small):
                gen.catalog_tables(a)
                gen.catalog_tables(b)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


class TailRuleTest(unittest.TestCase):

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail(list(range(19)), 19), (None, None, 19))

    def test_known_percentiles(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_ten_samples_lie_beyond_the_tail(self):
        for n in range(20, 600):
            xs = list(range(n))
            v, p, count = stats.tail(xs, n)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # and it is the highest such whole percentile
            self.assertLess(sum(x > stats.percentile(xs, p + 1) for x in xs), 10, n)

    def test_percentile_follows_the_guaranteed_sample_count(self):
        xs = [float(i) for i in range(50)]
        self.assertEqual(stats.tail(xs, 40)[1], 75)
        self.assertEqual(stats.tail(xs, 50)[1], 80)

    def test_union_of_spans(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(stats.union_ms([]), 0)


class LayerTest(unittest.TestCase):

    def test_a_loaded_layer_the_trace_missed_is_reported(self):
        values = {"scan.s": 0.1, "task.cpu_s": 2.0}
        names = ["scan.s", "scan.bytes", "task.cpu_s", "csv.read_s"]
        self.assertEqual(stats.untraced_loaded(values, names, ["sources.Tables", "operators"]),
                         [("scan.bytes", "sources.Tables")])
        # a bypassed layer is no loss
        self.assertEqual(stats.untraced_loaded(values, ["csv.read_s"], ["operators"]), [])

    def test_ratios_need_what_they_divide(self):
        # one traced op whose jobs, stages and tasks the trace lost
        res = {"ops": [["0:0:q", 0, "q", "op", 0.5, True, True, [], {}, 0.0, 0]], "passes": [[0, True, 1.0, 0.0], [0, False, 1.0, 0.0]],
               "jit_s": 1.0, "classes_loaded": 1, "heap_peak_mb": 1.0, "workload": "w"}
        out = stats.per_layer(res, [])
        for n in ("sched.jobs_per_op", "sched.stages_per_op", "exchange.skew", "upsert.write_amp",
                  "load_p50_s"):
            self.assertNotIn(n, out)


class MetricNamesTest(unittest.TestCase):

    def test_declared_metrics_are_well_formed(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(stats.NAME_RE.match(n), n)
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m)
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in bench["end_to_end"])},
                      bench["end_to_end"])

    def test_every_per_layer_metric_has_a_layer_each_workload_places(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(here, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
        layers = {stats.layer_of(m["name"]) for m in bench["per_layer"]}
        for name, w in workloads.items():
            self.assertFalse(set(w["loads"]) & set(w["bypasses"]), name)
            self.assertLessEqual(set(w["loads"]) | set(w["bypasses"]), set(stats.LAYER_OF.values()), name)
        for w in bench["workloads"]:
            spec = workloads[w["name"]]
            self.assertEqual(layers - set(spec["loads"]) - set(spec["bypasses"]), set(), w["name"])


if __name__ == "__main__":
    unittest.main()
