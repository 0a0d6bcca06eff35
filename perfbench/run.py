#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload suite-sf0.1 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM package into `.bench_build` (see build.py). The last
line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
from a traced run. The line before it stamps the regime the run saw,
and a traced run also writes its spans to `.bench_build/traces/`.

Workloads (one client, closed loop, `local[<cores>]`, one process):
  suite-sf0.1   a fixed panel of suite queries on the sf0.1 tables
  flight-day    hourly pipeline ticks plus the six answers, seeded input
For the suite the seed only permutes the query order: the tables are
the committed copies in perfbench/data and never change. For flight-day
the seed drives the generated flights.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches in the source tree
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import jvm  # noqa: E402
import metrics as m  # noqa: E402

# The suite panel: a fixed set of queries, so every seed measures the
# same work. All 132 do not fit a run of the benchmark's length; the
# panel was chosen from the full suite's traced layer table
# (results/FULLPASS.md) to come close to its shares of the wall: build
# 32% (20% in the queries whose build runs driver-side jobs; here q55's
# DistributedRank pre-pass and q99's bloom-filter action scan),
# executors idle 34% and busy 34%. It holds the task-layer kernels
# (q86/q110 dictionary lookups, q107 pruning).
PANEL = [
    "q26_minhash_signature", "q55_grouping_sets", "q86_unigram_logprob",
    "q99_bloom_decontam", "q107_ivf_pq_search", "q110_bigram_logprob",
]

WORKLOADS = {
    "suite-sf0.1": {"kind": "suite", "scale": "sf0.1"},
    "flight-day": {"kind": "flight", "hours": 2, "flights": 20000},
}

# Set-up repetitions per run: a suite set-up is a session and one query,
# a flight set-up a session and the day's generated input. The first
# runs in a cold JVM and is reported from JVM start as `cold_start_s`;
# `setup_s` is the median of the others (a warm JVM).
SETUP_REPS = {"suite": 6, "flight": 3}
# A run is noisy when the host stole, or the process spent in the
# kernel, more than these shares of its CPU time.
NOISY_STEAL = 0.05
NOISY_SYS = 0.25


class Fail(Exception):
    pass


def host_ticks():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    ticks = [int(x) for x in parts]
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, sum(ticks[:8])


def commit_id(root):
    """The checkout's commit, when it is a git work tree; else a digest
    of the sources the run was built from."""
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=root,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + build.stamp(build.sources(root))[:12]


def settings_for(root, name, seed, seconds, trace, cores):
    w = WORKLOADS[name]
    base = {"cores": cores, "reps": SETUP_REPS[w["kind"]], "seconds": seconds,
            "trace": 1 if trace else 0, "seed": seed}
    if w["kind"] == "suite":
        return "suite", dict(base, data=jvm.data_dir(root, w["scale"]),
                             queries=",".join(m.order(PANEL, seed)),
                             fingerprints=os.path.abspath(os.path.join(root, "perfbench", "fingerprints",
                                                       w["scale"] + ".tsv")))
    work = os.path.abspath(os.path.join(root, build.BUILD_DIR, "lake", f"{name}-{os.getpid()}"))
    return "flight", dict(base, work=work, hours=w["hours"], flights=w["flights"])


def kinds(records, k):
    return [r for r in records if r.get("k") == k]


def fastest(ops, phase):
    """Each query's fastest execution in `phase`."""
    best = {}
    for r in ops:
        if r["phase"] == phase:
            best[r["name"]] = min(best.get(r["name"], r["s"]), r["s"])
    return best


def fastest_hours(ops, passes):
    """Each hour's fastest day among `passes`: tick plus answers."""
    per = {}
    for r in ops:
        if r["pass"] in passes:
            key = (r["pass"], r["name"])
            per[key] = per.get(key, 0.0) + r["s"]
    best = {}
    for (_, hour), s in per.items():
        best[hour] = min(best.get(hour, s), s)
    return best


def end_to_end(records, kind):
    setups = kinds(records, "setup")
    cold = next(r["from_jvm_s"] for r in setups if r["rep"] == 0)
    setup = statistics.median(r["s"] for r in setups if r["rep"] > 0)
    ops = kinds(records, "op")
    if kind == "suite":
        lat = list(fastest(ops, "measure").values())
    else:  # one hour: the tick plus the lookup and six answers after it
        untraced = {p["pass"] for p in kinds(records, "pass") if not p["traced"]}
        lat = list(fastest_hours(ops, untraced).values())
    return {
        "setup_s": (setup, "s"),
        "cold_start_s": (cold, "s"),
        "pass_s": (sum(lat), "s"),
        "op_gmean_s": (statistics.geometric_mean(lat), "s"),
    }, len(lat)


PER_LAYER = [
    ("build_s", "s"), ("build_jobs", "count"),
    ("analysis_s", "s"), ("optimize_s", "s"), ("planning_s", "s"),
    ("execution_s", "s"), ("drain_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("exec_idle_s", "s"),
    ("task_s", "s"), ("task_cpu_s", "s"), ("busy_share", "share"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("input_mb", "MB"), ("scan_nodes", "count"), ("cache_mb", "MB"),
    ("gc_s", "s"), ("jit_s", "s"), ("heap_peak_mb", "MB"),
    ("extract_s", "s"), ("extract_pages", "count"), ("extract_rows", "count"), ("source_s", "s"),
    ("bronze_s", "s"), ("silver_s", "s"), ("gold_s", "s"),
    ("written_mb", "MB"), ("files_written", "count"),
    ("dedup_dropped", "count"), ("join_dropped", "count"), ("snapshot_lookup_s", "s"),
    ("answer_q1_s", "s"), ("answer_q2_s", "s"), ("answer_q3_s", "s"),
    ("answer_q4_s", "s"), ("answer_q5_s", "s"), ("answer_q6_s", "s"),
    ("tick_p50_s", "s"), ("answers_p50_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
    ("layer_coverage_min", "share"), ("trace_overhead_s", "s"),
    ("failed_share", "share"), ("sys_share", "share"), ("steal_share", "share"),
]


def per_layer(records, kind, cores, regime):
    """Per-layer metrics of a traced run, for one pass: every panel query
    once (each query's traced executions averaged), or one day (the
    traced days averaged)."""
    ops_all = kinds(records, "op")
    stats = kinds(records, "opstats")
    spans = kinds(records, "span")
    by_op = m.group_ops(spans)
    if kind == "suite":
        traced_q = fastest(ops_all, "traced")
        count = {}
        for r in ops_all:
            if r["phase"] == "traced":
                count[r["name"]] = count.get(r["name"], 0) + 1
        name_of = {r["op"]: r["name"] for r in ops_all}
        weight = {op: 1.0 / count[name_of[op]] for op in by_op}
        overhead = sum(traced_q.values()) - sum(fastest(ops_all, "measure").values())
        # GC and JIT are sampled over the measured rounds only
        window = len([r for r in ops_all if r["phase"] in ("measure", "traced")]) / len(traced_q)
    else:
        passes = kinds(records, "pass")
        traced = [p for p in passes if p["traced"]]
        traced_ids = {p["pass"] for p in traced}
        untraced_ids = {p["pass"] for p in passes if not p["traced"]}
        weight = {op: 1.0 / len(traced) for op in by_op}
        overhead = (sum(fastest_hours(ops_all, traced_ids).values())
                    - sum(fastest_hours(ops_all, untraced_ids).values()))
        window = len(passes)
    selfs = {}
    for op, group in by_op.items():
        for name, t in m.self_times(group).items():
            selfs[name] = selfs.get(name, 0.0) + weight[op] * t / 1e3
    tot = lambda key: sum(weight[s["op"]] * s[key] for s in stats)
    jvm_rec = kinds(records, "jvm")[0]
    wall_ms = tot("wall_ms")
    v = {name: 0.0 for name, _ in PER_LAYER}
    v.update({
        "analysis_s": selfs.get("analysis", 0.0),
        "optimize_s": selfs.get("optimization", 0.0),
        "planning_s": selfs.get("planning", 0.0),
        "jobs": tot("jobs"), "stages": tot("stages"), "tasks": tot("tasks"),
        "exec_idle_s": (wall_ms - tot("busy_ms")) / 1e3,
        "task_s": tot("task_ms") / 1e3, "task_cpu_s": tot("task_cpu_ms") / 1e3,
        "busy_share": tot("task_ms") / (cores * wall_ms) if wall_ms else 0.0,
        "shuffle_write_mb": tot("shuffle_write_bytes") / 1048576,
        "spill_mb": tot("spill_bytes") / 1048576,
        "input_mb": tot("input_bytes") / 1048576,
        "scan_nodes": tot("scan_nodes"),
        "cache_mb": tot("cache_bytes") / 1048576,
        "gc_s": jvm_rec["gc_s"] / window, "jit_s": jvm_rec["jit_s"] / window,
        "heap_peak_mb": jvm_rec["heap_peak_mb"],
        "trace_overhead_s": overhead,
        "sys_share": regime["sys_share"], "steal_share": regime["steal_share"],
    })
    if kind == "suite":
        splits = {op: m.suite_split(g) for op, g in by_op.items()}
        for key in ("build", "execution", "drain"):
            v[key + "_s"] = sum(weight[op] * sp[key] for op, sp in splits.items()) / 1e3
        v["build_jobs"] = tot("build_jobs")
        coverages = [m.coverage(sp, m.SUITE_LAYERS) for sp in splits.values()]
    else:
        splits = {op: m.tick_split(g) for op, g in by_op.items()
                  if any(s["name"] == "tick" for s in g)}
        for key in ("extract", "bronze", "silver", "gold"):
            v[key + "_s"] = sum(weight[op] * sp[key] for op, sp in splits.items()) / 1e3
        coverages = [m.coverage(sp, m.TICK_LAYERS) for sp in splits.values()]
        n = len(traced)
        tick_ops = [r for r in ops_all if r["kind"] == "tick" and r["pass"] in traced_ids]
        ans_ops = [r for r in ops_all if r["kind"] == "answers" and r["pass"] in traced_ids]
        v["extract_pages"] = sum(r["pages"] for r in tick_ops) / n
        v["extract_rows"] = sum(r["rows"] for r in tick_ops) / n
        v["source_s"] = sum(r["source_s"] for r in tick_ops) / n
        v["tick_p50_s"] = m.percentile([r["s"] for r in tick_ops], 50)
        v["answers_p50_s"] = m.percentile([r["s"] for r in ans_ops], 50)
        v["snapshot_lookup_s"] = selfs.get("snapshot_lookup", 0.0)
        for i in range(1, 7):
            v[f"answer_q{i}_s"] = selfs.get(f"answer_q{i}", 0.0)
        for key, src in (("written_mb", "written_bytes"), ("files_written", "files_written"),
                         ("dedup_dropped", "dedup_dropped"), ("join_dropped", "join_dropped")):
            v[key] = sum(p[src] for p in traced) / n
        v["written_mb"] /= 1048576
    lat = list(fastest(ops_all, "measure").values() if kind == "suite"
               else fastest_hours(ops_all, untraced_ids).values())
    v["op_p50_s"] = m.percentile(lat, 50)
    v["op_p90_s"] = m.percentile(lat, 90)
    v["layer_coverage_min"] = min(coverages)
    units = dict(PER_LAYER)
    return {k: (v[k], units[k]) for k, _ in PER_LAYER}, spans, selfs


def run(args):
    root = os.getcwd()
    if args.workload not in WORKLOADS:
        raise Fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    try:
        build.sources(root)
        build.spark_jars()
    except build.BuildError as e:
        raise Fail(str(e))
    cores = os.cpu_count()
    mode, settings = settings_for(root, args.workload, args.seed, args.seconds, args.trace, cores)
    steal0, total0 = host_ticks()
    t0 = time.monotonic()
    try:
        records, cpu = jvm.run(root, mode, settings, timeout_s=165)
    finally:
        if "work" in settings:
            shutil.rmtree(settings["work"], ignore_errors=True)
    steal1, total1 = host_ticks()
    kind = WORKLOADS[args.workload]["kind"]
    ops = kinds(records, "op")
    failures = [r for r in ops if not r["ok"]]
    attempted = len(ops)
    failed = len(failures)
    reg = kinds(records, "regime")[0]
    cpu_s = cpu["user_s"] + cpu["sys_s"]
    regime = {
        "sys_share": cpu["sys_s"] / cpu_s if cpu_s else 0.0,
        "steal_share": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
    }
    noisy = regime["steal_share"] > NOISY_STEAL or regime["sys_share"] > NOISY_SYS
    stamp = {"regime": dict(regime, cores=reg["cores"], spark=reg["spark"], jvm=reg["jvm"],
                            commit=commit_id(root), layout="plain",
                            workload=args.workload, seed=args.seed, trace=args.trace,
                            noisy=noisy, wall_s=time.monotonic() - t0,
                            failures=[f"{r.get('name')}: {r.get('error')}" for r in failures][:20])}
    if args.trace:
        values, spans, selfs = per_layer(records, kind, reg["cores"], regime)
        values["failed_share"] = (failed / attempted, "share")
        os.makedirs(os.path.join(root, build.BUILD_DIR, "traces"), exist_ok=True)
        with open(os.path.join(root, build.BUILD_DIR, "traces",
                               f"{args.workload}-seed{args.seed}.jsonl"), "w") as f:
            for r in spans + kinds(records, "opstats") + kinds(records, "op"):
                f.write(json.dumps(r) + "\n")
        stamp["self_s_per_pass"] = dict(sorted(selfs.items(), key=lambda kv: -kv[1]))
    else:
        values, n = end_to_end(records, kind)
        stamp["samples"] = n
    print(json.dumps(stamp))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": val, "unit": unit} for k, (val, unit) in values.items()},
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        result = run(args)
    except (Fail, jvm.RunError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
