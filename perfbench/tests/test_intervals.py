"""Interval-union accounting: overlapping jobs never make a self time
negative or count the same wall time twice.

Run from the repository root:
    python3 -m unittest perfbench/tests/test_intervals.py
"""
import random
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def sample(qid, construct, action, check, rows=1):
    return {"qid": qid, "construct_s": (construct[1] - construct[0]) / 1e3,
            "action_s": (action[1] - action[0]) / 1e3,
            "check_s": (check[1] - check[0]) / 1e3, "rows": rows,
            "codegen_ns": 0, "compile_ns": 0}


def job(start, end, **kw):
    j = {"id": 0, "start_ms": start, "end_ms": end, "stages": 1, "tasks": 1,
         "failed_tasks": 0, "empty_tasks": 0, "cpu_ns": 0, "wait_ms": 0,
         "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
         "input_b": 0, "output_b": 0}
    j.update(kw)
    return j


def layers(construct, action, jobs, actions=(), compiles=()):
    win = {"query": (construct[0], action[1] + 5), "construct": construct,
           "action": action, "check": (action[1], action[1] + 5)}
    obs = {"jobs": list(jobs), "actions": list(actions),
           "compiles": list(compiles), "construct_jobs": 0,
           "construct_actions": 0}
    return metrics.query_layers(
        sample(1, construct, action, win["check"]), win, obs)


class UnionTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union([(0, 10), (5, 20), (30, 40)]),
                         [(0, 20), (30, 40)])
        self.assertEqual(metrics.length([(0, 10), (5, 20), (30, 40)]), 30)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.length([(0, 100), (10, 20), (100, 110)]), 110)

    def test_empty_and_reversed_intervals_count_nothing(self):
        self.assertEqual(metrics.length([(5, 5), (9, 3)]), 0)

    def test_clip_to_windows(self):
        self.assertEqual(metrics.length(metrics.clip([(0, 100)],
                                                     [(10, 20), (50, 60)])), 20)


class SelfTimeTest(unittest.TestCase):
    def test_two_concurrent_writes_count_once(self):
        # two jobs run at once for the whole action (a concurrent write
        # pair): their sum is twice the wall time, their union is not
        q = layers((0, 100), (100, 1100),
                   [job(100, 1100), job(100, 1100)])
        self.assertAlmostEqual(q["job_union_s"], 1.0)
        self.assertAlmostEqual(q["self_s"], 0.1)

    def test_jobs_beyond_the_window_are_clipped(self):
        # a job that started before the query and ends after it
        q = layers((0, 100), (100, 200), [job(-500, 900)])
        self.assertAlmostEqual(q["job_union_s"], 0.2)
        self.assertEqual(q["self_s"], 0)

    def test_planning_overlapping_jobs(self):
        act = {"func": "collect", "ok": True, "peak_rows": 10,
               "phases": {"analysis": [0, 60], "optimization": [50, 120],
                          "planning": [110, 150]}}
        q = layers((0, 100), (100, 300), [job(140, 290), job(150, 250)],
                   actions=[act], compiles=[{"end_ms": 160, "dur_ms": 30}])
        self.assertAlmostEqual(q["self_s"], 0.01)
        self.assertGreaterEqual(q["self_s"], 0)

    def test_random_overlaps_never_negative(self):
        rnd = random.Random(7)
        for _ in range(2000):
            c0 = rnd.uniform(0, 100)
            c1 = c0 + rnd.uniform(0, 100)
            a1 = c1 + rnd.uniform(0, 500)
            jobs = []
            for _ in range(rnd.randint(0, 6)):
                s = rnd.uniform(c0 - 50, a1 + 50)
                jobs.append(job(s, s + rnd.uniform(0, 300)))
            comp = [{"end_ms": rnd.uniform(c0, a1 + 20),
                     "dur_ms": rnd.uniform(0, 80)} for _ in range(3)]
            q = layers((c0, c1), (c1, a1), jobs, compiles=comp)
            self.assertGreaterEqual(q["self_s"], -1e-9)
            self.assertLessEqual(q["job_union_s"], q["wall_s"] + 1e-9)
            self.assertLessEqual(q["self_s"], q["wall_s"] + 1e-9)
            self.assertLessEqual(q["coverage"], 1 + 1e-9)
            if q["wall_s"] > 0:
                # coverage is the part of the window that is not self time
                self.assertAlmostEqual(q["coverage"],
                                       1 - q["self_s"] / q["wall_s"])


if __name__ == "__main__":
    unittest.main()
