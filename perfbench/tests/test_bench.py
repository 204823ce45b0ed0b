"""Span arithmetic, and a smoke run of every workload that must emit exactly
the metrics BENCHMARK.json names, with a well-formed span tree.

The smoke runs build the program on first use and take a few minutes:
    python3 -m pytest perfbench/tests
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

EPS_MS = 0.5


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class SpanArithmeticTest(unittest.TestCase):
    def test_covered_is_the_clipped_union(self):
        self.assertEqual(metrics.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.covered([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.covered([], 0, 10), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
                 span(3, 1, 10, 20)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[0], 0.050)
        self.assertAlmostEqual(selfs[1], 0.020)
        self.assertAlmostEqual(selfs[3], 0.010)

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertAlmostEqual(metrics.quantile(range(11), 0.9), 9.0)
        self.assertEqual(metrics.quantile([], 0.9), 0.0)


def traced(i, parent, layer, name, start, end, **counters):
    return {"id": i, "parent": parent, "pass": 0, "kind": "traced", "layer": layer,
            "name": name, "start_ms": start, "end_ms": end, "counters": counters}


def raw_record(spans):
    return {"trace": {"spans": spans, "tasks": [], "plans": [], "storage_peak_mb": 0.0},
            "requests": [], "passes": [], "setup": {"session_s": 1.0},
            "check": {"probe_s": 1.0}}


class FamilyAccountingTest(unittest.TestCase):
    def test_a_nested_write_counts_for_its_own_family_only(self):
        spans = [traced(0, -1, "bench", "pass", 0, 100),
                 traced(1, 0, "SearchOps", "es_bulk_format", 2, 60, jobs=1),
                 traced(2, 1, "SearchOps", "es_bulk_format.build", 2, 10),
                 traced(3, 1, "sources", "EsBulkSink.write", 10, 60, jobs=2, task_s=0.5),
                 traced(4, 0, "DedupOps", "dedup_minhash", 61, 99, jobs=4),
                 traced(5, 4, "DedupOps", "dedup_minhash.build", 61, 80, jobs=3),
                 traced(6, 4, "spark", "noop", 80, 99, jobs=1, task_s=0.25)]
        m = metrics.per_layer(raw_record(spans), 4, {}, {})
        self.assertAlmostEqual(m["SearchOps.wall_s"][0], 0.008)
        self.assertAlmostEqual(m["sources.wall_s"][0], 0.050)
        self.assertAlmostEqual(m["DedupOps.wall_s"][0], 0.038)
        self.assertEqual(m["SearchOps.jobs"][0], 1)
        self.assertEqual(m["sources.jobs"][0], 2)
        self.assertEqual(m["DedupOps.jobs"][0], 8)
        self.assertEqual(m["SearchOps.task_s"][0], 0)
        self.assertEqual(m["DedupOps.task_s"][0], 0.25)
        assert_families_add_up(self, m, pass_wall_s=0.100, tolerance_s=1e-9)


def assert_families_add_up(test, m, pass_wall_s, tolerance_s):
    """The families' wall times of a pass are its wall less harness_self_s."""
    families = sum(m[f"{f}.wall_s"][0] for f in metrics.FAMILIES)
    test.assertAlmostEqual(families, pass_wall_s - m["harness_self_s"][0], delta=tolerance_s)


class DeadlineTest(unittest.TestCase):
    """The JVM's time limit starts when the build ends, so a run that has to
    rebuild first still gets its full limit."""

    def test_build_time_does_not_count_against_the_jvm(self):
        import run

        class Stop(Exception):
            pass
        clock = [1000.0]
        seen = {}

        def slow_build():
            clock[0] += run.BUILD_LIMIT_S - 1

        def jvm(args, run_dir, in_dir, out_dir, deadline):
            seen["left"] = deadline - clock[0]
            raise Stop

        saved = (run.ensure_built, run.run_jvm, run.time, sys.argv)
        try:
            run.ensure_built, run.run_jvm = slow_build, jvm
            run.time = type("Clock", (), {"time": staticmethod(lambda: clock[0])})
            sys.argv = ["run.py", "--workload", "nightly", "--seed", "1", "--seconds", "1"]
            with self.assertRaises(Stop):
                run.main()
        finally:
            run.ensure_built, run.run_jvm, run.time, sys.argv = saved
        self.assertEqual(seen["left"], run.RUN_LIMIT_S)


def assert_well_formed(test, spans):
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        test.assertGreaterEqual(s["end_ms"], s["start_ms"], s)
        if s["parent"] >= 0:
            p = by_id[s["parent"]]
            test.assertGreaterEqual(s["start_ms"], p["start_ms"] - EPS_MS, (s, p))
            test.assertLessEqual(s["end_ms"], p["end_ms"] + EPS_MS, (s, p))
    for sid, self_s in metrics.self_times(spans).items():
        test.assertGreaterEqual(self_s, -EPS_MS / 1e3, by_id[sid])


class SmokeTest(unittest.TestCase):
    """One tiny run per workload and trace mode."""

    @classmethod
    def setUpClass(cls):
        cls.spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def run_bench(self, workload, trace):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", "11", "--seconds", "1", "--trace", str(trace), "--keep"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        runs = sorted(glob.glob(os.path.join(ROOT, ".bench_build", "runs", f"{workload}-11-*")),
                      key=os.path.getmtime)
        raw = json.load(open(os.path.join(runs[-1], "result.json")))
        for d in runs:
            shutil.rmtree(d, ignore_errors=True)
        return json.loads(out.stdout.strip().splitlines()[-1]), raw

    def check(self, workload):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, raw = self.run_bench(workload, trace)
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(result["correct"], raw.get("errors"))
            self.assertEqual(result["failed"], 0)
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            self.assertEqual(got, want)
            if trace:
                spans = raw["trace"]["spans"]
                assert_well_formed(self, spans)
                walls = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                         if s["kind"] == "traced" and s["name"] == "pass"]
                assert_families_add_up(self, {k: (v["value"], v["unit"]) for k, v
                                              in result["metrics"].items()},
                                       sum(walls) / len(walls), tolerance_s=0.005)
                self.assertGreater(result["metrics"]["jobs"]["value"], 0)
            else:
                for m in self.spec["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_nightly(self):
        self.check("nightly")

    def test_interactive(self):
        self.check("interactive")

    def test_rebuild_from_a_stale_stamp(self):
        """A source change makes the next run rebuild before it measures;
        that run must still finish and measure."""
        stamp = os.path.join(ROOT, ".bench_build", "sources.sha256")
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        with open(stamp, "w") as f:
            f.write("stale")
        result, _ = self.run_bench("nightly", 0)
        self.assertTrue(result["correct"])
        self.assertNotEqual(open(stamp).read(), "stale")


if __name__ == "__main__":
    unittest.main()
