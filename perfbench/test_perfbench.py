"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the program if needed and runs one short JVM.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(id, parent, start, end, name=None):
    return {"id": id, "parent": parent, "name": name or id, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_reports_its_sample_count(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), {"value": 2.0, "n": 3})
        self.assertEqual(stats.percentile(list(range(1, 11)), 90), {"value": 9, "n": 10})
        self.assertEqual(stats.percentile([7.0], 90), {"value": 7.0, "n": 1})
        self.assertEqual(stats.median([1.0, 2.0, 4.0, 8.0]), {"value": 3.0, "n": 4})

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            span("q", "", 0, 100),
            span("build", "q", 0, 30),
            span("execute", "q", 40, 100),
            # overlapping jobs: their union is 50..90
            span("j1", "execute", 50, 80, "job"),
            span("j2", "execute", 60, 90, "job"),
            # a stage sticking out of its job is clipped to the job
            span("s1", "j1", 70, 95, "stage"),
        ]
        ms = {k: v * 1e6 for k, v in stats.self_times_ms(spans).items()}
        self.assertEqual(ms["q"], 10)        # 100 - (30 + 60)
        self.assertEqual(ms["build"], 30)
        self.assertEqual(ms["execute"], 20)  # 60 - 40
        self.assertEqual(ms["job"], 20 + 30)  # j1: 30 - 10 covered by s1; j2: 30
        self.assertEqual(ms["stage"], 25)

    def test_subtree_follows_parents(self):
        spans = [span("run", "", 0, 9), span("p0", "run", 0, 4), span("p1", "run", 5, 9),
                 span("p1.q", "p1", 5, 8), span("j", "p1.q", 6, 7)]
        self.assertEqual({s["id"] for s in stats.subtree(spans, {"p1"})}, {"p1", "p1.q", "j"})


class MedianPassTest(unittest.TestCase):
    def test_sums_per_query_medians(self):
        ex = [{"q": "a", "latency_ms": ms} for ms in (1000, 9000, 2000)] + \
             [{"q": "b", "latency_ms": ms} for ms in (500, 700, 600)]
        self.assertEqual(stats.median_pass(ex), {"value": 2.6, "n": 3})


class FailureCountTest(unittest.TestCase):
    def test_throw_and_wrong_result_each_count_once(self):
        ex = [{"q": "a", "pass": 0, "ok": False}, {"q": "a", "pass": 1, "ok": False},
              {"q": "b", "pass": 0, "ok": True}, {"q": "b", "pass": 1, "ok": True},
              {"q": "c", "pass": 0, "ok": True}, {"q": "c", "pass": 1, "ok": True}]
        mismatches = {"a": "no result", "b": "rows 3 vs 4", "c": None}
        self.assertEqual(stats.failures(ex, mismatches), (6, 3))


class RunJvmTest(unittest.TestCase):
    def test_child_is_killed_when_its_time_is_up(self):
        cmd = ["sleep", "31.25"]
        with self.assertRaises(subprocess.TimeoutExpired):
            run.run_jvm(cmd, 0.5, os.getpriority(os.PRIO_PROCESS, 0))
        alive = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    alive.append(f.read().split(b"\0")[:2])
            except OSError:
                pass
        self.assertNotIn([b"sleep", b"31.25"], alive)


class ThrowingQueryTest(unittest.TestCase):
    """A query that throws is recorded as failed and the loop goes on."""

    def test_run_continues_past_a_throwing_query(self):
        cores = len(os.sched_getaffinity(0))
        cls = build.classes()
        data = build.data("0.1", cls, cores)
        out = os.path.join(build.OUT, "selftest")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        record = os.path.join(out, "jvm.json")
        r = subprocess.run(build.java_cmd(cls, "2g") + [
            "perfbench.Main", "--mode", "batch", "--queries", "no_such_query,q01_agg",
            "--data", data, "--anchor-data", data, "--out", out, "--cores", str(cores),
            "--seed", "1", "--seconds", "0", "--warmup-passes", "0", "--trace", "0", "--record", record,
            "--t0", "0"], cwd=out, capture_output=True, text=True, timeout=170)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        with open(record) as f:
            rec = json.load(f)
        by_q = {}
        for e in rec["executions"]:
            by_q.setdefault(e["q"], []).append(e)
        self.assertEqual([e["ok"] for e in by_q["no_such_query"]], [False] * 3)
        self.assertIn("NoSuchElementException", by_q["no_such_query"][0]["error"])
        self.assertEqual([e["ok"] for e in by_q["q01_agg"]], [True] * 3)
        attempted, failed = stats.failures(rec["executions"], {"no_such_query": "no result"})
        m = stats.end_to_end(rec, [1.0], failed, attempted)
        self.assertEqual(m["ok_frac"], {"value": 0.5, "n": 6})


if __name__ == "__main__":
    unittest.main()
