"""Turn the harness's raw observations into the benchmark's metrics.

Interval accounting: every layer's time inside a query is measured as the
length of a UNION of intervals clipped to the query's timed window, never
as a sum, so overlapping jobs (two writes running at once) or a planning
phase that overlaps a job are counted once, and a self time (window minus
the union) can never be negative.
"""
import math
import statistics


# ---------------------------------------------------------------- intervals

def union(intervals):
    """Merge (start, end) pairs into sorted, disjoint intervals."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, windows):
    """The parts of `intervals` that fall inside any of `windows`."""
    out = []
    for s, e in intervals:
        for ws, we in union(windows):
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def self_time(windows, children):
    """Time in `windows` not covered by `children`: never negative."""
    return length(windows) - length(clip(children, windows))


# ------------------------------------------------------------------ helpers

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest nearest-rank percentile with at least ten samples beyond
    it: (value, percentile, sample count)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1] if xs else float("nan"), 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) \
        if xs else float("nan")


# ------------------------------------------------------------------ metrics

def wall_s(p):
    """Measured wall time of a pass, checks and cache release included."""
    return (p["end_ms"] - p["start_ms"]) / 1e3


def summarize(raw, setups, traced):
    samples = raw["samples"]
    passes = {p["pass"]: p for p in raw["passes"]}
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])

    untraced_warm = [p for p in warm if not p["traced"]]
    traced_warm = [p for p in warm if p["traced"]]
    e2e_passes = untraced_warm if untraced_warm else warm
    e2e_ids = {p["pass"] for p in e2e_passes}
    warm_lat, per_query = [], {}
    for s in samples:
        if s["ok"] and s["pass"] in e2e_ids:
            warm_lat.append(s["construct_s"] + s["action_s"])
            per_query.setdefault(s["name"], []).append(warm_lat[-1])
    t_val, t_pct, t_n = tail(warm_lat)
    e2e = {
        "setup_s": (setups[0]["setup_s"], "s"),
        "first_pass_s": (wall_s(passes[0]), "s"),
        "pass_s": (median([wall_s(p) for p in e2e_passes]), "s"),
        # each query's median over the warm passes, then the median of
        # those: the JIT keeps speeding the driver up pass after pass, so
        # a query's single samples drift down through a run
        "query_p50_s": (median([median(v) for v in per_query.values()]), "s"),
        "query_tail_s": (t_val, "s"),
        "query_geomean_s": (geomean(warm_lat), "s"),
    }
    report = [f"metric {k} {v:.6g} {u}" for k, (v, u) in e2e.items()]
    report.append(f"metric failed_ratio {failed / max(attempted, 1):.6g} ratio "
                  f"({failed} of {attempted} query runs)")
    report.append(f"setup: {setups[0]['setup_s']:.3f} s from process start "
                  "to ready" + ("; session rebuilds in the same JVM: " +
                                ", ".join(f"{s['setup_s']:.3f}"
                                          for s in setups[1:]) + " s"
                                if len(setups) > 1 else ""))
    report.append(f"query_tail_s is p{t_pct:.1f} of {t_n} warm samples " +
                  ("(10 beyond it)" if t_n > 10 else "(the largest: too few "
                   "samples for 10 beyond it)"))
    settle = sum(1 for p in raw["passes"] if p["kind"] == "settle")
    report.append(f"passes: 1 cold, {settle} settling, "
                  f"{len(e2e_passes)} warm measured: " +
                  ", ".join(f"{wall_s(p):.3f}" for p in e2e_passes) + " s")
    for s in samples:
        if not s["ok"]:
            report.append(f"FAILED pass {s['pass']} {s['name']}: {s['error']}")

    metrics = e2e
    if traced:
        layers, lines = per_layer(raw, setups, traced_warm, untraced_warm)
        metrics = layers
        report += [f"layer {k} {v:.6g} {u}" for k, (v, u) in layers.items()]
        report += lines
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, report


def query_windows(raw):
    """Per query id: its span and the spans of its construct, action and
    check phases, as (start_ms, end_ms)."""
    q = {}
    for s in raw["spans"]:
        if s["qid"]:
            q.setdefault(s["qid"], {})[s["name"]] = (s["start_ms"], s["end_ms"])
    return q


def attribute(raw):
    """Attach every observed job, action and compile to the query whose
    construct or action span it falls in."""
    wins = query_windows(raw)
    per_q = {qid: {"jobs": [], "actions": [], "compiles": [],
                   "construct_jobs": 0, "construct_actions": 0}
             for qid in wins}

    def owner(t):
        for qid, w in wins.items():
            for phase in ("construct", "action"):
                if phase in w and w[phase][0] <= t <= w[phase][1]:
                    return qid, phase
        return None, None

    for j in raw.get("jobs", []):
        qid, phase = owner(j["start_ms"])
        if qid:
            per_q[qid]["jobs"].append(j)
            per_q[qid]["construct_jobs"] += phase == "construct"
    for a in raw.get("actions", []):
        ends = [e for _, e in a["phases"].values()]
        qid, phase = owner(max(ends)) if ends else (None, None)
        if qid:
            per_q[qid]["actions"].append(a)
            per_q[qid]["construct_actions"] += phase == "construct"
    for c in raw.get("compiles", []):
        qid, _ = owner(c["end_ms"])
        if qid:
            per_q[qid]["compiles"].append(c)
    return wins, per_q


def query_layers(sample, win, obs):
    """Per-layer numbers of one query run."""
    timed = [w for k, w in win.items() if k in ("construct", "action")]
    jobs = [(j["start_ms"], j["end_ms"] if j["end_ms"] > 0 else j["start_ms"])
            for j in obs["jobs"]]
    phase = {"analysis": [], "optimization": [], "planning": []}
    for a in obs["actions"]:
        for k, (s, e) in a["phases"].items():
            if k in phase:
                phase[k].append((s, e))
    planning = [iv for ivs in phase.values() for iv in ivs]
    compiles = [(c["end_ms"] - c["dur_ms"], c["end_ms"]) for c in obs["compiles"]]
    js = obs["jobs"]
    peak = max([a["peak_rows"] for a in obs["actions"]] or [0])
    return {
        "wall_s": length(timed) / 1e3,
        "construct_s": sample["construct_s"],
        "analysis_s": length(clip(phase["analysis"], timed)) / 1e3,
        "optimization_s": length(clip(phase["optimization"], timed)) / 1e3,
        "planning_s": length(clip(phase["planning"], timed)) / 1e3,
        "plan_union_s": length(clip(planning, timed)) / 1e3,
        "codegen_s": sample["codegen_ns"] / 1e9,
        "compile_s": sample["compile_ns"] / 1e9,
        "compile_union_s": length(clip(compiles, timed)) / 1e3,
        "job_union_s": length(clip(jobs, timed)) / 1e3,
        "self_s": self_time(timed, jobs + planning + compiles) / 1e3,
        # share of the timed window inside an observed span
        "coverage": length(clip(jobs + planning + compiles, timed)) /
        max(length(timed), 1e-9),
        "jobs": len(js),
        "construct_jobs": obs["construct_jobs"],
        "actions": len(obs["actions"]),
        "construct_actions": obs["construct_actions"],
        "stages": sum(j["stages"] for j in js),
        "tasks": sum(j["tasks"] for j in js),
        "failed_tasks": sum(j["failed_tasks"] for j in js),
        "empty_tasks": sum(j["empty_tasks"] for j in js),
        "task_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
        "task_wait_s": sum(j["wait_ms"] for j in js) / 1e3,
        "shuffle_read_mb": sum(j["shuffle_read_b"] for j in js) / 2**20,
        "shuffle_write_mb": sum(j["shuffle_write_b"] for j in js) / 2**20,
        "spill_mb": sum(j["spill_b"] for j in js) / 2**20,
        "input_mb": sum(j["input_b"] for j in js) / 2**20,
        "write_mb": sum(j["output_b"] for j in js) / 2**20,
        "amplification": peak / max(sample["rows"], 1),
        "check_s": sample["check_s"],
    }


def per_layer(raw, setups, traced_warm, untraced_warm):
    wins, per_q = attribute(raw)
    by_pass = {}
    for s in raw["samples"]:
        if s["qid"] in wins:
            by_pass.setdefault(s["pass"], []).append(
                (s, query_layers(s, wins[s["qid"]], per_q[s["qid"]])))

    def total(p, key):
        return sum(q[key] for _, q in by_pass.get(p["pass"], []))

    def med(key):
        return median([total(p, key) for p in traced_warm])

    def pass_median(f):
        return median([f(p) for p in traced_warm])

    tasks = med("tasks")
    m = {
        # the cold setup that setup_s times, split: JVM start up to the
        # harness, session build, engine warmup
        "setup.jvm_s": (setups[0]["setup_s"] - setups[0]["session_s"] -
                        setups[0]["warmup_s"], "s"),
        "setup.session_s": (setups[0]["session_s"], "s"),
        "setup.warmup_s": (setups[0]["warmup_s"], "s"),
        "setup.rebuild_s": (median([s["setup_s"] for s in setups[1:]]), "s"),
        "queries.construct_s": (med("construct_s"), "s"),
        "queries.construct_jobs": (med("construct_jobs"), "count"),
        "queries.construct_actions": (med("construct_actions"), "count"),
        "plan.analysis_s": (med("analysis_s"), "s"),
        "plan.optimization_s": (med("optimization_s"), "s"),
        "plan.planning_s": (med("planning_s"), "s"),
        "plan.codegen_s": (med("codegen_s"), "s"),
        # the generated-class cache holds a whole workload, so every Janino
        # compile happens in the cold pass
        "plan.cold_compile_s": (sum(s["compile_ns"] for s in raw["samples"]
                                    if s["pass"] == 0) / 1e9, "s"),
        "plan.actions": (med("actions"), "count"),
        "exec.job_union_s": (med("job_union_s"), "s"),
        "exec.jobs": (med("jobs"), "count"),
        "exec.stages": (med("stages"), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.failed_tasks": (med("failed_tasks"), "count"),
        "exec.task_cpu_s": (med("task_cpu_s"), "s"),
        "exec.task_wait_s": (med("task_wait_s"), "s"),
        "exec.empty_task_ratio": (pass_median(
            lambda p: total(p, "empty_tasks") / max(total(p, "tasks"), 1)),
            "ratio"),
        "exec.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "exec.spill_mb": (med("spill_mb"), "MB"),
        "exec.input_mb": (med("input_mb"), "MB"),
        "exec.rows_amplification": (pass_median(lambda p: max(
            [q["amplification"] for _, q in by_pass.get(p["pass"], [])]
            or [0])), "ratio"),
        "io.write_mb": (med("write_mb"), "MB"),
        "driver.self_s": (med("self_s"), "s"),
        # the whole run's GC time: a warm pass often collects nothing
        "jvm.gc_s": (raw["gc_total_s"], "s"),
        "jvm.heap_peak_mb": (pass_median(lambda p: p["heap_peak_mb"]), "MB"),
        "host.canary_s": (median(raw["canary_s"]), "s"),
        "check.s": (med("check_s"), "s"),
        "trace.overhead_ratio": (
            median([wall_s(p) for p in traced_warm]) /
            median([wall_s(p) for p in untraced_warm]), "ratio"),
    }
    # the five slowest queries of the traced warm passes, by median wall
    per_name = {}
    for p in traced_warm:
        for s, q in by_pass.get(p["pass"], []):
            per_name.setdefault(s["name"], []).append(q)
    def med_q(qs, k):
        return median([q[k] for q in qs])
    slow = sorted(per_name, key=lambda n: -med_q(per_name[n], "wall_s"))[:5]
    lines = ["slowest queries (median over traced warm passes; shares of "
             "wall): name wall_s construct plan compile jobs self "
             "coverage"]
    cover = []
    for n in slow:
        qs = per_name[n]
        w = med_q(qs, "wall_s")
        cover.append(med_q(qs, "coverage"))
        lines.append(
            f"slow {n} {w:.3f}s construct={med_q(qs, 'construct_s') / w:.0%} "
            f"plan={med_q(qs, 'plan_union_s') / w:.0%} "
            f"compile={med_q(qs, 'compile_union_s') / w:.0%} "
            f"jobs={med_q(qs, 'job_union_s') / w:.0%} "
            f"self={med_q(qs, 'self_s') / w:.0%} "
            f"coverage={cover[-1]:.1%}")
    m["trace.span_coverage"] = (min(cover) if cover else 0.0, "ratio")
    negative = [k for qs in per_name.values() for q in qs
                for k in ("self_s",) if q[k] < 0]
    lines.append(f"negative self times: {len(negative)}")
    return m, lines


def span_tree(raw):
    """The run's spans plus one `job` span per observed job, parented to
    the construct or action span it started in."""
    spans = list(raw["spans"])
    by_q = {}
    for s in spans:
        if s["name"] in ("construct", "action"):
            by_q.setdefault(s["qid"], []).append(s)
    nid = max(s["id"] for s in spans) + 1
    for j in raw.get("jobs", []):
        for qid, phases in by_q.items():
            hit = [s for s in phases if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
            if hit:
                spans.append({"id": nid, "parent": hit[0]["id"], "name": "job",
                              "qid": qid, "start_ms": j["start_ms"],
                              "end_ms": j["end_ms"], "job_id": j["id"]})
                nid += 1
                break
    return {"spans": spans}
