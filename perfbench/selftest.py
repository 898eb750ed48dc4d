#!/usr/bin/env python3
"""Self-tests for the benchmark's own logic.

    python3 perfbench/selftest.py          # pure tests, about a second
    python3 perfbench/selftest.py --jvm    # also one short real run

Covers the percentile rule, failure accounting, and that the metrics the
benchmark emits are exactly the ones BENCHMARK.json names, with its units.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

RUN_JVM = "--jvm" in sys.argv


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fake_result(traced):
    """A query-workload result: 3 passes of 20 ops (pass 1 traced when
    `traced`), one op that threw and one failed check."""
    ops, passes = [], []
    for p in range(3):
        tr = traced and p == 1
        for i in range(20):
            ok = not (p == 2 and i == 0)
            o = {"name": f"q{i}", "pass": p, "ok": ok, "err": None if ok else "boom",
                 "wall_ms": 100.0 + i, "build_ms": 50.0 + i / 2, "exec_ms": 50.0 + i / 2}
            if tr:
                o.update(counters={"build.jobs": 2, "exec.jobs": 1, "exec.tasks": 4,
                                   "exec.task_ms": 40},
                         qes=[{"analysis_ms": 1, "optimizer_ms": 2, "physical_ms": 3,
                               "relations": [["lineitem", 7]]}],
                         tasks=[[1000 + i * 10, 1005 + i * 10]], persisted=0)
            ops.append(o)
        passes.append({"pass": p, "traced": tr, "wall_ms": 2100.0 + p,
                       "start_ms": 1000, "end_ms": 3100})
    return {"ops": ops, "passes": passes, "cores": 4, "setup_jvm_s": 3.5,
            "heap_retained_mb": 80.0, "resolve_ms": {"lineitem": 5.0},
            "checks": [{"name": "q0", "ok": True}, {"name": "q1", "ok": False, "err": "x"}]}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_beyond(self):
        self.assertIsNone(metrics.percentile(range(99), 90))
        self.assertEqual(metrics.percentile(range(100), 90), 89)
        self.assertIsNone(metrics.percentile(range(39), 75))
        self.assertEqual(metrics.percentile(range(40), 75), 29)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 50))

    def test_unordered_input(self):
        xs = list(range(100))[::-1]
        self.assertEqual(metrics.percentile(xs, 50), 49)

    def test_tail_is_highest_qualifying(self):
        self.assertEqual(metrics.tail(range(1000)), {"pct": 99, "value": 989, "samples": 1000})
        self.assertEqual(metrics.tail(range(100))["pct"], 90)
        self.assertEqual(metrics.tail(range(40))["pct"], 75)
        self.assertIsNone(metrics.tail(range(39)))


class FailureAccounting(unittest.TestCase):
    def test_threw_and_wrong_output_count(self):
        r = fake_result(False)
        attempted, failed = metrics.accounting(r, {"q2": "value mismatch"})
        self.assertEqual(attempted, 60 + 2)
        # one op threw, one check could not run, one output was wrong
        self.assertEqual(failed, 3)

    def test_failed_ops_are_not_dropped_from_attempts(self):
        r = fake_result(False)
        for o in r["ops"]:
            o["ok"] = False
        attempted, failed = metrics.accounting(r, {})
        self.assertEqual(attempted, 62)
        self.assertEqual(failed, 61)

    @unittest.skipUnless(RUN_JVM, "needs --jvm")
    def test_unknown_query_counts_as_failed(self):
        # the unknown name fails in both timed passes and in the check
        # pass; bronze_ingest passes all three
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "eeg_medallion",
             "--seed", "1", "--seconds", "0", "--trace", "1",
             "--queries", "bronze_ingest,no_such_query"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        last = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual((last["attempted"], last["failed"], last["correct"]), (6, 3, False))


class NameParity(unittest.TestCase):
    def test_end_to_end(self):
        got = metrics.end_to_end(fake_result(False), 0.5)
        want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_per_layer(self):
        got = metrics.per_layer(fake_result(True))
        want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_workloads_match_runner(self):
        import run
        self.assertEqual(sorted(w["name"] for w in spec()["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--jvm"])
