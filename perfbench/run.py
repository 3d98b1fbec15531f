#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload expr_agg --seed 1 --seconds 21 --trace 0

The first run in a checkout compiles graft (src/main/scala) together with
the harness (perfbench/harness); later runs reuse the classes while the
sources are unchanged. The queries read the fixtures in perfbench/fixtures
(sf1 is built from sf0.1 with graft.MakeScale when a workload needs it).
Everything is written under the build directory (CARGO_TARGET_DIR,
default .bench_build).

A run sets up from process start (setup_s), then drives the workload: a
cold pass over its queries in the workload's order, one unmeasured
settling pass, then the number of measured warm passes that --seconds
buys on the reference host (warm_passes). The seed permutes the query
order of every pass after the cold one. A traced run also rebuilds the
session a few times in the same JVM (a per-layer figure).
Each timed action materializes every column of every row (collect) and
is checked against the expected result digests in perfbench/expected/.
With --trace 1 the run also attaches listeners from outside the program
and reports the per-layer metrics instead of the end-to-end ones.

The last line of stdout is the result JSON; the lines before it print
every metric by name and unit, and the run's provenance stamp.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import metrics  # noqa: E402
from workloads import FIXTURES, SF1_ROWS, TABLES, WORKLOADS  # noqa: E402

SETUP_REPEATS = 3  # traced runs only: the rebuilds feed setup.rebuild_s
# unmeasured warm passes after the cold one: the first warm pass still
# runs much of the driver's code before the JIT has compiled it
SETTLE_PASSES = 1
RUN_LIMIT_S = 170.0  # per run, not counting a build; the full workloads get an hour
BENCHMARK_WORKLOADS = ("expr_agg", "iter_state")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p).encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        where = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (root / "build.sbt").read_text())
        if not m:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
        where = Path(m.group(1))
    jars = sorted(where.glob("*.jar"))
    if not jars:
        raise BenchError(f"no Spark jars under {where}")
    return [str(j) for j in jars]


def heap_gb():
    """Half the host memory in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        kb = int(next(l.split()[1] for l in f if l.startswith("MemTotal:")))
    return min(8, max(2, kb // 2097152)), kb


def java_cmd(classpath, tmp, heap, main, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}g", f"-Xmx{heap}g", *opens, f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-cp", ":".join(classpath), main]
            + list(args))


def run_proc(cmd, logfile, timeout, env=None):
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"timed out after {timeout:.0f}s: {cmd[-1]}")
    if p.returncode != 0:
        tail = Path(logfile).read_text(errors="replace").splitlines()[-20:]
        raise BenchError(f"exit {p.returncode}: {' '.join(cmd[-3:])}\n"
                         + "\n".join(tail))
    return out.decode()


def build(root, bdir, jars):
    """Compile graft and the harness into one class directory."""
    srcs = sorted((root / "src/main/scala").rglob("*.scala")) + \
        sorted((HERE / "harness").rglob("*.scala"))
    key = sha(srcs, "\n".join(jars))
    classes = bdir / "classes"
    stamp = bdir / "classes.key"
    if stamp.exists() and stamp.read_text() == key:
        return classes, 0.0
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    (bdir / "srcs.txt").write_text("\n".join(str(s) for s in srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    run_proc(["java", "-Xss16m", "-Xmx3g", "-cp", ":".join(jars),
              "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
              "-classpath", ":".join(jars), f"@{bdir / 'srcs.txt'}"],
             bdir / "build.log", 900)
    stamp.write_text(key)
    return classes, time.time() - t0


def table_rows(path):
    import pyarrow.parquet as pq
    files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
    return sum(pq.read_metadata(f).num_rows for f in files)


def fixture_dir(bdir, name):
    """Where a workload's tables are: the fixtures kept in
    perfbench/fixtures, or sf1 in the build directory."""
    if name == "sf1":
        return bdir / "data" / "sf1"
    return HERE / "fixtures" / name


def check_fixtures():
    missing = [f"{n}/{t}.parquet" for n in FIXTURES for t in TABLES
               if not (HERE / "fixtures" / n / f"{t}.parquet").is_file()]
    if missing:
        raise BenchError("missing fixture tables under perfbench/fixtures: "
                         + ", ".join(missing))


def fixtures(root, bdir, classpath, heap, tmp, need_sf1):
    """Checks the kept fixtures; when a workload needs sf1, builds it with
    graft.MakeScale over sf0.1 (x10, salt), once, and again only when
    sf0.1 or MakeScale.scala change. Returns the build time of sf1 when it
    was built."""
    check_fixtures()
    if not need_sf1:
        return {}
    base = HERE / "fixtures" / "sf0.1"
    sf1, stamp = fixture_dir(bdir, "sf1"), bdir / "data" / "sf1.key"
    key = sha([root / "src/main/scala/graft/MakeScale.scala"]
              + sorted(base.glob("*.parquet")))
    if stamp.exists() and stamp.read_text() == key:
        return {}
    t0 = time.time()
    shutil.rmtree(sf1, ignore_errors=True)
    sf1.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    run_proc(java_cmd(classpath, tmp, heap, "graft.MakeScale",
                      [str(base), str(sf1), "10", "salt"]),
             bdir / "fixture.log", 900, env)
    for t, n in SF1_ROWS.items():
        got = table_rows(sf1 / f"{t}.parquet")
        if got != n:
            raise BenchError(f"sf1 {t}: {got} rows, expected {n}")
    stamp.write_text(key)
    return {"sf1": time.time() - t0}


def warm_passes(seconds, wl):
    """--seconds as a fixed number of measured warm passes: the seconds
    divided by the workload's warm pass time on the reference host. A
    time-bounded loop would let a slow moment cut a run short, and the JIT
    keeps speeding the driver up pass after pass, so runs that made
    different numbers of passes would not compare."""
    return max(2, math.ceil(seconds / wl["nominal_pass_s"]))


def record(raw, path):
    """Store each query's digest; every pass must have produced the same."""
    got = {}
    for s in raw["samples"]:
        if s["rows"] < 0:
            raise BenchError(f"{s['name']} failed: {s['error']}")
        got.setdefault(s["name"], set()).add((s["rows"], s["hash"]))
    unstable = [n for n, v in got.items() if len(v) > 1]
    if unstable:
        raise BenchError(f"results differ between passes: {unstable}")
    old = json.loads(path.read_text()) if path.exists() else {}
    old.update({n: {"rows": r, "hash": h}
                for n, ((r, h),) in ((n, tuple(v)) for n, v in got.items())})
    path.parent.mkdir(exist_ok=True)
    path.write_text("{\n" + ",\n".join(
        f'  "{n}": {{"rows": {v["rows"]}, "hash": "{v["hash"]}"}}'
        for n, v in sorted(old.items())) + "\n}\n")
    log(f"recorded {len(got)} digests in {path.name}")


def git_stamp(root):
    if not (root / ".git").exists():
        return None, None
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "src/main"],
                               cwd=root, capture_output=True, text=True,
                               timeout=10).stdout.strip() != ""
        return head.stdout.strip(), dirty
    except (OSError, subprocess.SubprocessError):
        return None, None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=21)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", choices=(*FIXTURES, "sf1"),
                    help="run the workload's queries on another fixture "
                    "than its own (one-off breakdowns and recording)")
    ap.add_argument("--record", action="store_true",
                    help="write the digests this run produced into "
                    "perfbench/expected/<fixture>.json (only after the "
                    "outputs passed scripts/check.py at that fixture)")
    a = ap.parse_args()
    t_start = time.time()

    root = Path.cwd()
    if not (root / "src/main/scala/graft/SparkEntry.scala").exists():
        raise BenchError("run from the repository root: "
                         "src/main/scala/graft/SparkEntry.scala not found")
    wl = WORKLOADS[a.workload]
    fixture = a.fixture or wl["fixture"]
    bdir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    bdir.mkdir(parents=True, exist_ok=True)
    tmp = bdir / "tmp" / str(os.getpid())
    tmp.mkdir(parents=True, exist_ok=True)
    heap, mem_kb = heap_gb()
    cpus = os.cpu_count() or 4
    jars = spark_jars(root)
    try:
        classes, build_s = build(root, bdir, jars)
        classpath = [str(classes)] + jars
        built = fixtures(root, bdir, classpath, heap, tmp,
                         fixture == "sf1")
        for name, secs in built.items():
            log(f"fixture {name} built in {secs:.1f}s")
        data = fixture_dir(bdir, fixture)
        common = ["--cpus", str(cpus), "--local-dir", str(tmp),
                  "--data", str(data)]
        logfile = bdir / f"run-{a.workload}.log"

        limit = RUN_LIMIT_S if a.workload in BENCHMARK_WORKLOADS else 3600

        def remaining():
            return limit - (time.time() - t_start) + build_s + \
                sum(built.values())

        out_json = bdir / f"out-{a.workload}-{fixture}-{a.seed}-{a.trace}.json"
        spawn_ns = time.time_ns()
        run_proc(java_cmd(classpath, tmp, heap, "perfbench.Harness",
                          ["run", *common,
                           "--setups", str(SETUP_REPEATS if a.trace else 1),
                           "--queries", ",".join(wl["queries"]),
                           "--seed", str(a.seed),
                           "--settle", str(SETTLE_PASSES),
                           "--passes", str(warm_passes(a.seconds, wl)),
                           "--trace", str(a.trace),
                           "--expected", "-" if a.record else
                           str(HERE / "expected" / f"{fixture}.json"),
                           "--out", str(out_json)]),
                 logfile, remaining())
        raw = json.loads(out_json.read_text())
        # the first setup counts from process start, the others are
        # complete session rebuilds in the same JVM
        setups = raw["setups"]
        setups[0]["setup_s"] = (setups[0]["ready_ms"] - spawn_ns / 1e6) / 1e3
        for s in setups[1:]:
            s["setup_s"] = s["session_s"] + s["warmup_s"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if a.record:
        record(raw, HERE / "expected" / f"{fixture}.json")
        return
    head, dirty = git_stamp(root)
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "fixture": fixture, "nproc": cpus,
        "mem_total_kb": mem_kb, "xmx": f"{heap}g",
        "jdk": raw["stamp"]["jdk"], "spark": raw["stamp"]["spark"],
        "master": raw["stamp"]["master"], "git_head": head,
        "src_main_dirty": dirty,
        "src_main_sha": sha(sorted(p for p in (root / "src/main").rglob("*")
                                   if p.is_file()))[:16],
        "build_s": round(build_s, 3),
        "fixture_build_s": {k: round(v, 3) for k, v in built.items()},
        "load": "closed loop, 1 client, one query at a time",
    }
    result, report = metrics.summarize(raw, setups, bool(a.trace))
    if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
        raise BenchError("no metric value: every query run failed\n"
                         + "\n".join(report))
    if a.trace:
        trace_file = bdir / f"trace-{a.workload}-{fixture}-{a.seed}.json"
        trace_file.write_text(json.dumps(metrics.span_tree(raw)))
        report.append(f"trace written to {trace_file.relative_to(root)}")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    for line in report:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
