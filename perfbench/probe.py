#!/usr/bin/env python3
"""No-pruning probe: for each workload query, does the benchmark's timed
action keep every output column? With --gap, also time the query's
`count()` against its materialized action (warm, second of two runs), the
gap that makes `count()`-based timings undercount.

Run from the repository root:

    python3 perfbench/probe.py --workload expr_agg
    python3 perfbench/probe.py --fixture sf0.1 --gap q_spearman,q_xi_corr
"""
import argparse
import json
import os
import shutil
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def probe(fixture, queries, gap=()):
    """Returns one dict per query: columns, action_columns, kept_all and,
    for queries in `gap`, count_s and collect_s."""
    root = Path.cwd()
    bdir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    bdir.mkdir(parents=True, exist_ok=True)
    tmp = bdir / "tmp" / f"probe-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    heap, _ = run.heap_gb()
    jars = run.spark_jars(root)
    try:
        classes, _ = run.build(root, bdir, jars)
        classpath = [str(classes)] + jars
        run.fixtures(root, bdir, classpath, heap, tmp, fixture == "sf1")
        out = bdir / f"probe-{fixture}.json"
        args = ["probe", "--cpus", str(os.cpu_count() or 4),
                "--local-dir", str(tmp),
                "--data", str(run.fixture_dir(bdir, fixture)),
                "--queries", ",".join(queries), "--out", str(out)]
        if gap:
            args += ["--gap", ",".join(gap)]
        run.run_proc(run.java_cmd(classpath, tmp, heap, "perfbench.Harness",
                                  args), bdir / "probe.log", 3600)
        return json.loads(out.read_text())["probe"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--fixture")
    ap.add_argument("--gap", default="")
    a = ap.parse_args()
    gap = [q for q in a.gap.split(",") if q]
    fixture = WORKLOADS[a.workload]["fixture"] if a.workload else a.fixture
    queries = WORKLOADS[a.workload]["queries"] if a.workload else gap
    for r in probe(fixture, queries, gap):
        line = f"{r['name']} kept_all={r['kept_all']}"
        if "count_s" in r:
            line += (f" count_s={r['count_s']:.3f} collect_s={r['collect_s']:.3f}"
                     f" ratio={r['collect_s'] / r['count_s']:.1f}")
        print(line)


if __name__ == "__main__":
    main()
