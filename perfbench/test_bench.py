"""Tests of the benchmark's own attribution and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The attribution tests build graft (once per checkout) and run the JVM in
its `selftest` mode on one fixture query, traced: the plain query and the
same query with one extra `.count()` inside its build, three times each.
"""
import json
import os
import shutil
import sys
import time
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import run  # noqa: E402

QUERY = "join_broadcast_dim"


class StatisticsTest(unittest.TestCase):
    def test_tail_is_eleventh_largest(self):
        value, pct, n = run.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, n), (90.0, 100))
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_of_fewer_than_twenty_samples_is_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(run.tail([float(i) for i in range(19)])[0], 18.0)

    def test_golden_mismatch_fails_the_op(self):
        ops = [{"op": "q", "ok": True, "rows": 5, "hash": "ab"},
               {"op": "q", "ok": True, "rows": 5, "hash": "cd"},
               {"op": "r", "ok": True, "rows": 7, "hash": "zz"}]
        golden = {"q": {"rows": 5, "hash": "ab"}, "r": {"rows": 7, "hash": None}}
        run.check_fixture_ops(ops, golden)
        self.assertEqual([o["ok"] for o in ops], [True, False, True])

    def test_pass_s_is_the_fastest_warm_pass_without_a_failure(self):
        rec = [{"ev": "setup", "setup_s": 6.0},
               {"ev": "pass", "pass": 0, "kind": "cold", "traced": False, "wall_s": 20.0, "ops": 1},
               {"ev": "pass", "pass": 1, "kind": "warm", "traced": False, "wall_s": 5.0, "ops": 1},
               {"ev": "pass", "pass": 2, "kind": "warm", "traced": False, "wall_s": 3.0, "ops": 1},
               {"ev": "pass", "pass": 3, "kind": "warm", "traced": False, "wall_s": 4.0, "ops": 1},
               {"ev": "memory", "peak_rss_mb": 1000.0, "live_heap_mb": 200.0}]
        rec += [{"ev": "op", "op": "q", "pass": p, "ok": True, "wall_s": w}
                for p, w in ((0, 20.0), (1, 5.0), (2, 3.0), (3, 4.0))]
        args = type("Args", (), {"trace": 0, "workload": "multi_action"})
        self.assertEqual(run.summarize(args, rec, {}, (0, 0), 4, None)[0]["pass_s"], 3.0)
        rec[-2]["ok"] = False
        e2e, info, _, attempted, failed = run.summarize(args, rec, {}, (0, 0), 4, None)
        self.assertEqual((e2e["pass_s"], attempted, failed), (4.0, 4, 1))
        self.assertEqual(info["op_p50_s"], 4.5)


class AttributionTest(unittest.TestCase):
    ops = None

    @classmethod
    def setUpClass(cls):
        build_dir = (run.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
        build_dir.mkdir(parents=True, exist_ok=True)
        classes = build.build(build_dir)
        fixture_dir = run.fixture(build_dir)
        run_dir = build_dir / "runs" / f"selftest-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        for sub in ("tmp", "warehouse", "derby", "local"):
            (run_dir / sub).mkdir(parents=True)
        try:
            record = run_dir / "record.jsonl"
            run.Jvm(classes, run_dir, time.monotonic() + 300)(
                "selftest", record, query=QUERY, fixture=fixture_dir, timeout=120)
            cls.ops = [e for e in run.read_record(record) if e["ev"] == "op"]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    def by_name(self, name):
        return [o for o in self.ops if o["op"] == name]

    def test_all_ops_succeed(self):
        self.assertTrue(all(o["ok"] for o in self.ops), json.dumps(self.ops)[:2000])

    def test_extra_count_adds_a_job_and_keeps_the_result(self):
        plain, extra = self.by_name(QUERY), self.by_name(QUERY + "_plus_count")
        for p, e in zip(plain, extra):
            self.assertEqual((e["rows"], e["hash"]), (p["rows"], p["hash"]))
            # the count's jobs (one per adaptive query stage) all start
            # inside the build span
            extra_jobs = e["layer"]["jobs"] - p["layer"]["jobs"]
            self.assertGreater(extra_jobs, 0)
            self.assertEqual(e["layer"]["build_jobs"] - p["layer"]["build_jobs"], extra_jobs)

    def test_self_times_sum_to_wall(self):
        for o in self.ops:
            spans = sum(o["spans"].values())
            unattributed = o["wall_s"] - spans
            # the rest is the runner's hand-off to the client thread and the
            # span bookkeeping; the listener-bus drain happens outside wall
            self.assertGreaterEqual(unattributed, 0.0, o)
            self.assertLessEqual(unattributed, 0.005 + 0.02 * o["wall_s"], o)
            self.assertGreaterEqual(o["layer"]["drain_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
