"""Self-tests for the lane benchmark.

    python3 -m unittest discover -s lanebench/tests -v

The command-level tests build the harness on first use (about a minute)
and then run the planted lanes of `Planted.scala` through `run.py`.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def run_bench(*args, cwd=ROOT, script=BENCH / "run.py"):
    p = subprocess.run([sys.executable, str(script), *args], cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p


def span(i, parent, start, end, kind="x"):
    return {"id": i, "parent": parent, "name": str(i), "kind": kind, "start": start, "end": end}


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = metrics.add_self_times([span(0, None, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                                        span(3, 0, 90, 120), span(4, 1, 12, 14)])
        # children of 0 cover [10,50] and [90,100]: 50 ms of 100
        self.assertAlmostEqual(spans[0]["self_ms"], 50.0)
        # a grandchild counts against its parent only
        self.assertAlmostEqual(spans[1]["self_ms"], 18.0)
        self.assertAlmostEqual(spans[4]["self_ms"], 2.0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.covered(0, 10, [(-5, 2), (1, 3), (8, 20)]), 5.0)
        self.assertAlmostEqual(metrics.covered(0, 10, []), 0.0)

    def test_harrell_davis_percentile(self):
        self.assertAlmostEqual(metrics.beta_cdf(0.3, 1, 1), 0.3)
        self.assertAlmostEqual(metrics.beta_cdf(0.5, 2.5, 2.5), 0.5)
        self.assertAlmostEqual(metrics.percentile([1, 2, 3, 4, 5], 50), 3.0)
        self.assertAlmostEqual(metrics.percentile([7], 90), 7.0)
        p90 = metrics.percentile(list(range(1, 101)), 90)
        self.assertTrue(89 < p90 < 92, p90)
        # weights sum to one: a constant sample gives that constant
        self.assertAlmostEqual(metrics.percentile([4.0] * 24, 90), 4.0)


def fake_result(stage_tasks, stage_ms, lane="q_dbscan", error=None):
    """One traced visit of `lane` (1000 ms) with one job and one stage."""
    v = {"lane": lane, "pass": 2, "start_ms": 1000.0, "build_ms": 100.0, "exec_ms": 900.0,
         "release_ms": 5.0, "wall_ms": 1000.0, "error": error, "traced": True}
    return {
        "visits": [v], "checks": [dict(v, error=None)], "peak_heap_mb": 100.0,
        "trace": {
            "jobs": [{"job": 0, "visit": 0, "start_ms": 1150.0, "end_ms": 1150.0 + stage_ms + 50, "stages": [0]}],
            "stages": [{"stage": 0, "attempt": 0, "name": "s", "start_ms": 1160.0, "end_ms": 1160.0 + stage_ms,
                        "tasks": stage_tasks, "run_ms": 0, "cpu_ms": 400.0, "gc_ms": 3, "wait_ms": 7,
                        "shuffle_write_bytes": 2_000_000, "spill_bytes": 0, "failed": False}],
            "plans": [{"func": "command", "ok": True,
                       "phases": {"analysis": {"start_ms": 1110.0, "end_ms": 1120.0},
                                  "planning": {"start_ms": 1120.0, "end_ms": 1140.0}}}],
        },
    }


class LayerRecords(unittest.TestCase):
    def test_one_task_heavy_stage_counts_as_narrow(self):
        m, _, _ = metrics.per_layer("batch", fake_result(1, 600), cpus=4)
        self.assertEqual(m["geo.narrow_stage_lanes"][0], 1)
        self.assertEqual(m["geo.tasks"][0], 1)
        self.assertAlmostEqual(m["geo.plan_ms"][0], 30.0)
        self.assertAlmostEqual(m["geo.shuffle_write_mb"][0], 2.0)
        # the job covers [1150, 1800] of the lane's [1000, 2000]
        self.assertAlmostEqual(m["geo.driver_gap_ms"][0], 350.0)

    def test_wide_or_light_stages_are_not_narrow(self):
        wide, _, _ = metrics.per_layer("batch", fake_result(4, 600), cpus=4)
        light, _, _ = metrics.per_layer("batch", fake_result(1, 50), cpus=4)
        self.assertEqual(wide["geo.narrow_stage_lanes"][0], 0)
        self.assertEqual(light["geo.narrow_stage_lanes"][0], 0)

    def test_tracing_overhead_compares_paired_visits(self):
        res = fake_result(4, 600)
        res["visits"].append(dict(res["visits"][0], traced=False, wall_ms=800.0))
        m, _, _ = metrics.per_layer("batch", res, cpus=4)
        self.assertAlmostEqual(m["tracing_overhead_pct"][0], 25.0)

    def test_failed_visit_raises_error_rate(self):
        m, _, _ = metrics.per_layer("batch", fake_result(4, 600, error="java.lang.RuntimeException"), cpus=4)
        self.assertAlmostEqual(m["error_rate"][0], 0.5)

    def test_batch_group_walls_use_untraced_visits(self):
        res = fake_result(4, 600)
        res["visits"].append(dict(res["visits"][0], traced=False, wall_ms=800.0))
        m, _, _ = metrics.per_layer("batch", res, cpus=4)
        self.assertAlmostEqual(m["raster_geo.wall_s"][0], 0.805)
        self.assertEqual(m["shuffle_heavy.wall_s"][0], 0.0)

    def test_setup_is_the_median_of_its_samples(self):
        res = fake_result(4, 600)
        res["visits"][0]["traced"] = False
        m = metrics.end_to_end("batch", res, [5200.0, 9900.0, 4800.0])
        self.assertAlmostEqual(m["setup_s"][0], 5.2)
        # batch has no sync lanes: sync_p50_ms repeats query_p50_ms
        self.assertEqual(m["sync_p50_ms"], m["query_p50_ms"])

    def test_every_module_and_codec_metric_is_reported(self):
        m, _, _ = metrics.per_layer("batch", fake_result(4, 600), cpus=4)
        for mod in workloads.MODULES:
            for key, _unit in metrics.MODULE_METRICS:
                self.assertIn(f"{mod}.{key}", m)
        for mod, codec in metrics.CODECS:
            self.assertIn(f"{mod}.{codec}.decode_mb_s", m)


class Schedule(unittest.TestCase):
    def test_seed_fixes_the_lane_order(self):
        for wl in workloads.WORKLOADS:
            a = workloads.schedule(wl, 7, 5)
            self.assertEqual(a, workloads.schedule(wl, 7, 5))
            self.assertNotEqual(a, workloads.schedule(wl, 8, 5))
            for p in a:
                self.assertEqual(sorted(p), sorted(workloads.WORKLOADS[wl]))

    def test_module_table_matches_sparkentry(self):
        src = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
        imports = {}
        for pkg, names in re.findall(r"^import graft\.(\w+)\.\{?([\w, ]+)\}?", src, re.M):
            for n in names.split(","):
                imports[n.strip()] = pkg
        head = src[src.index("def queries"):src.index("def oracleSql")]
        for wl, lanes in workloads.WORKLOADS.items():
            for lane in lanes:
                m = re.search(rf'"{lane}" -> \(.*?(?:graft\.(\w+)\.)?(\w+)\.\w+[ (]', head)
                self.assertIsNotNone(m, lane)
                pkg = m.group(1) or imports.get(m.group(2))
                self.assertEqual(workloads.module_of(lane), pkg, lane)


class OracleCompare(unittest.TestCase):
    def test_mismatch_and_missing_are_reported(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            data, res = d / "data", d / "results"
            data.mkdir()
            for t in oracle.TABLES:
                pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}), data / f"{t}.parquet")
            (res / "good").mkdir(parents=True)
            (res / "bad").mkdir()
            pq.write_table(pa.table({"n": [3]}), res / "good" / "part-0.parquet")
            pq.write_table(pa.table({"n": [4]}), res / "bad" / "part-0.parquet")
            sql = {l: "SELECT count(*)::BIGINT AS n FROM region" for l in ("good", "bad", "gone")}
            v = oracle.compare(data, res, sql, ["good", "bad", "gone"], d / "cache")
            self.assertEqual(v["good"]["status"], "ok")
            self.assertEqual(v["bad"]["status"], "mismatch")
            self.assertFalse(v["bad"]["known"])
            self.assertEqual(v["gone"]["status"], "missing")


class Command(unittest.TestCase):
    def test_bare_directory_refuses_to_run(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, Path(d) / BENCH.name, ignore=shutil.ignore_patterns("work", "target"))
            if (ROOT / "BENCHMARK.json").exists():
                shutil.copy(ROOT / "BENCHMARK.json", d)
            code, last, p = run_bench("--workload", "asset_index", "--seed", "1", "--seconds", "1",
                                      "--trace", "0", cwd=d, script=Path(d) / BENCH.name / "run.py")
            self.assertNotEqual(code, 0)
            self.assertIsNone(last, p.stdout)

    def test_planted_lanes(self):
        code, last, p = run_bench("--workload", "asset_index", "--seed", "1", "--seconds", "1", "--trace", "1",
                                  "--lanes", "planted_narrow,planted_wide,planted_fail")
        self.assertEqual(code, 1, p.stderr[-2000:])
        self.assertFalse(last["correct"])
        # the planted failure fails in the correctness pass and in each timed pass
        self.assertGreaterEqual(last["failed"], 3)
        self.assertGreater(last["metrics"]["error_rate"]["value"], 0)
        record = json.loads(Path(re.search(r"record=(\S+)", p.stdout).group(1)).read_text())
        self.assertTrue(record["lane_layers"]["planted_narrow"]["narrow"])
        self.assertFalse(record["lane_layers"]["planted_wide"]["narrow"])
        self.assertIn("planted_fail", record["errors"])
        # the failing lane's time up to the throw stays in the pass
        fails = [v for v in record["visits"] if v["lane"] == "planted_fail"]
        self.assertTrue(all(v["wall_ms"] > 0 for v in fails))


if __name__ == "__main__":
    unittest.main()
