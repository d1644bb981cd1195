"""Self-tests of the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def fake_result(workload):
    """A minimal JVM result: a warm, two timed and two traced ops."""
    def op(i, phase, name):
        return {"id": i, "phase": phase, "pass": i // 2, "name": name,
                "s": 0.5 + i, "error": None, "storage_bytes": 1 << 20,
                "rows": 100, "counters": {"spark.jobs": 3.0}}
    name = "load" if workload == "ingest" else run.STAR_LANES[0]
    return {"setup_s": 12.5,
            "ops": [op(0, "warm", name), op(1, "timed", name),
                    op(2, "timed", name), op(3, "traced", name),
                    op(4, "traced", name)],
            "passes": [{"phase": ph, "pass": i, "busy_s": 2.0, "wall_s": 2.5}
                       for i, ph in enumerate(("warm", "timed", "traced"))],
            "spans": [], "malformed_lines": 3}


class MetricNames(unittest.TestCase):
    def test_declared_names_and_units_are_valid_and_unique(self):
        names = [m["name"] for key in ("end_to_end", "per_layer")
                 for m in BENCHMARK[key]]
        names += [w["name"] for w in BENCHMARK["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for key in ("end_to_end", "per_layer"):
            for m in BENCHMARK[key]:
                self.assertTrue(stats.valid_unit(m["unit"]), m)

    def test_charset_rejects_bad_names(self):
        for bad in ("", "_lead", ".lead", "has space", "a" * 65, "x/y"):
            self.assertFalse(stats.valid_name(bad), bad)
        self.assertTrue(stats.valid_name("lane.q01_pricing_summary_s"))

    def test_every_workload_emits_exactly_the_declared_metrics(self):
        declared_e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
        declared_layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        # ingest is runnable but not declared while its loads fail the check
        self.assertEqual(sorted(w["name"] for w in BENCHMARK["workloads"]),
                         sorted(set(run.WORKLOADS) - {"ingest"}))
        for w in run.WORKLOADS:
            res = fake_result(w)
            e2e = run.end_to_end(res)
            self.assertEqual({k: u for k, (_, u) in e2e.items()}, declared_e2e)
            layer = {k: u for k, (_, u) in run.per_layer(w, res, 4).items()}
            if w == "ingest":
                self.assertLessEqual(declared_layer.items(), layer.items())
            else:
                self.assertEqual(layer, declared_layer)


class JvmTimeout(unittest.TestCase):
    def test_grows_with_window_and_tracing_up_to_the_run_limit(self):
        for secs in (1, 12):
            self.assertLess(run.jvm_timeout(secs, 0), run.jvm_timeout(secs, 1))
        self.assertLess(run.jvm_timeout(30, 0), run.jvm_timeout(50, 0))
        self.assertEqual(run.jvm_timeout(60, 1), run.RUN_LIMIT_S)

    def test_declared_run_ends_within_the_run_limit(self):
        for trace in (0, 1):
            self.assertLessEqual(
                run.jvm_timeout(BENCHMARK["run_seconds"], trace), 170)


class TailPercentile(unittest.TestCase):
    def test_unsupported_below_minimum(self):
        self.assertIsNone(stats.tail([1.0] * (stats.MIN_TAIL_SAMPLES - 1)))

    def test_ten_samples_beyond(self):
        for n in (40, 57, 100, 1000):
            samples = [float(i) for i in range(n, 0, -1)]
            pct, value, count = stats.tail(samples)
            self.assertEqual(count, n)
            self.assertEqual(sum(s > value for s in samples), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
        self.assertEqual(stats.tail([float(i) for i in range(100)])[:2],
                         (90.0, 89.0))


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name,
                "start_ns": start, "end_ns": end}

    def test_children_overlap_and_clip(self):
        spans = [self.span(1, -1, "op", 0, 100),
                 self.span(2, 1, "lane.build", 10, 30),
                 self.span(3, 1, "spark.job", 20, 50),  # overlaps 2
                 self.span(4, 1, "spark.job", 90, 120),  # clipped to 100
                 self.span(5, 2, "spark.job", 12, 18)]  # grandchild of 1
        selfs = stats.self_times(spans)
        self.assertEqual(selfs["op"], 100 - 40 - 10)
        self.assertEqual(selfs["lane.build"], 20 - 6)
        self.assertEqual(selfs["spark.job"], 30 + 30 + 6)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 5), (5, 7), (9, 10)]), 8)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)


if __name__ == "__main__":
    unittest.main()
