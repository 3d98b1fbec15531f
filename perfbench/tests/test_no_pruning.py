"""Every workload query's timed action keeps every output column.

`count()` lets Catalyst prune every column it does not need, so a
query's kernel may never run; the benchmark times `collect()` instead.
This test runs each query of each workload once (compiling graft on
first use) and checks, from the action's optimized plan, that
its output is exactly the DataFrame's columns and that every returned row
carries them all.

Run from the repository root:  python3 -m unittest discover perfbench/tests
(takes several minutes: it runs every query of every workload once).
"""
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from probe import probe  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class NoPruningTest(unittest.TestCase):
    def test_every_workload_query_keeps_all_columns(self):
        by_fixture = {}
        for wl in WORKLOADS.values():
            # pruning is a property of the plan, not of the data size:
            # the sf1 queries are probed on sf0.1
            fixture = "sf0.1" if wl["fixture"] == "sf1" else wl["fixture"]
            by_fixture.setdefault(fixture, set()).update(wl["queries"])
        for fixture, queries in sorted(by_fixture.items()):
            for r in probe(fixture, sorted(queries)):
                with self.subTest(fixture=fixture, query=r["name"]):
                    self.assertTrue(r["columns"], "query has no columns")
                    self.assertEqual(r["action_columns"], r["columns"])
                    self.assertTrue(r["kept_all"])


if __name__ == "__main__":
    unittest.main()
