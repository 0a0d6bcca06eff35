"""Self-tests of the benchmark harness.

    python3 perfbench/tests/test_harness.py

from the repository root. The last test starts the benchmark's JVM
(`graftbench.Main selftest`) and takes about a minute.
"""
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics as m  # noqa: E402
import run  # noqa: E402


def suite_names():
    with open(os.path.join(BENCH, "fingerprints", "sf0.1.tsv")) as f:
        return [line.split("\t")[0] for line in f if line.strip() and not line.startswith("#")]


def span(i, name, start, end, parent, op=1):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": op}


class Percentiles(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertEqual(m.percentile(xs, 50), 3.0)
        self.assertEqual(m.percentile(xs, 0), 1.0)
        self.assertEqual(m.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(m.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(m.percentile([1.0, 2.0], 50), 1.5)

    def test_percentile_matches_median(self):
        xs = [0.3, 0.9, 0.1, 0.7, 0.2, 0.5]
        self.assertAlmostEqual(m.percentile(xs, 50), statistics.median(xs))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(m.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(m.union_length([]), 0)
        self.assertEqual(m.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(0, "query", 0, 10, -1), span(1, "build", 1, 4, 0),
                 span(2, "action", 3, 6, 0), span(3, "job", 2, 3, 1),
                 span(4, "job", 5, 9, 2)]  # overruns its parent: clipped
        st = m.self_times(spans)
        self.assertAlmostEqual(st["query"], 10 - 5)
        self.assertAlmostEqual(st["build"], 3 - 1)
        self.assertAlmostEqual(st["action"], 3 - 1)
        self.assertAlmostEqual(st["job"], 1 + 4)

    def test_suite_split_adds_up_to_wall(self):
        spans = [span(0, "query", 0, 100, -1), span(1, "build", 0, 30, 0),
                 span(2, "action", 30, 90, 0), span(3, "drain", 90, 100, 0),
                 span(4, "optimization", 31, 35, 2), span(5, "planning", 35, 40, 2),
                 span(6, "execution", 38, 89, 2), span(7, "job", 10, 20, 1)]
        sp = m.suite_split(spans)
        self.assertEqual(sp["wall"], 100)
        self.assertEqual(sp["build"], 30)
        self.assertEqual(sp["planning"], 9)
        self.assertEqual(sp["execution"], 49)  # 38..89 less the 38..40 planning overlap
        self.assertEqual(sp["drain"], 10)
        self.assertAlmostEqual(m.coverage(sp, m.SUITE_LAYERS), 0.98)

    def test_tick_split_names_layers(self):
        spans = [span(0, "tick", 0, 50, -1), span(1, "extract", 0, 10, 0),
                 span(2, "bronze", 10, 20, 0), span(3, "silver", 20, 30, 0),
                 span(4, "gold", 30, 48, 0), span(5, "job", 11, 19, 0)]
        sp = m.tick_split(spans)
        self.assertEqual((sp["extract"], sp["bronze"], sp["silver"], sp["gold"]), (10, 10, 10, 18))
        self.assertAlmostEqual(m.coverage(sp, m.TICK_LAYERS), 48 / 50)


class QueryOrder(unittest.TestCase):
    def test_seeded_order_holds_every_query_once(self):
        names = suite_names()
        self.assertEqual(len(names), 132)
        for seed in (1, 2, 3):
            got = m.order(names, seed)
            self.assertEqual(sorted(got), sorted(names))
            self.assertEqual(len(set(got)), 132)
            self.assertEqual(got, m.order(names, seed))
        self.assertNotEqual(m.order(names, 1), m.order(names, 2))

    def test_panel_is_suite_queries(self):
        self.assertTrue(set(run.PANEL) <= set(suite_names()))
        self.assertEqual(len(set(run.PANEL)), len(run.PANEL))


class Declaration(unittest.TestCase):
    def test_benchmark_json_declares_what_run_prints(self):
        import json
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            decl = json.load(f)
        self.assertEqual([(x["name"], x["unit"]) for x in decl["per_layer"]], run.PER_LAYER)
        self.assertEqual({x["name"] for x in decl["end_to_end"]},
                         {"setup_s", "cold_start_s", "pass_s", "op_gmean_s"})
        self.assertEqual({w["name"] for w in decl["workloads"]}, set(run.WORKLOADS))


class Jvm(unittest.TestCase):
    """Fingerprint repeatability and the flight generator's shape."""

    def test_selftest_checks_pass(self):
        import jvm
        records, _ = jvm.run(ROOT, "selftest", {
            "cores": os.cpu_count(), "data": jvm.data_dir(ROOT, "sf0.1"),
            "queries": ",".join(run.PANEL)}, 600)
        checks = [r for r in records if r["k"] == "selftest"]
        self.assertGreaterEqual(len(checks), 13 + len(run.PANEL))
        bad = [f"{r['name']}: {r['detail']}" for r in checks if not r["ok"]]
        self.assertEqual(bad, [])


if __name__ == "__main__":
    unittest.main()
