#!/usr/bin/env python3
"""Print the layer table of a traced suite run as markdown.

    python3 perfbench/report.py .bench_build/traces/suite-sf0.1-seed1.jsonl

One row per query (its traced executions averaged): wall, the layer
split (build, planning, execution, drain) and how much of the wall it
accounts for, jobs (of them at build time), tasks, the wall with no task
running, and the busy share of the cores. Then each layer's share of
the pass wall, and the self time of every span name, per pass. It reads
the trace of a traced suite run, or the full suite's from `record.py`.
"""
import json
import os
import sys

sys.dont_write_bytecode = True

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as m  # noqa: E402

# A query whose build takes this long runs driver-side jobs at build time.
EAGER_MS = 300.0


def main(path, cores=os.cpu_count()):
    with open(path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    spans = [r for r in records if "parent" in r]
    stats = {r["op"]: r for r in records if r.get("k") == "opstats"}
    rows = {}
    for op, group in m.group_ops(spans).items():
        sp = m.suite_split(group)
        st = stats[op]
        row = dict(sp, coverage=m.coverage(sp, m.SUITE_LAYERS), jobs=st["jobs"],
                   build_jobs=st["build_jobs"], tasks=st["tasks"],
                   idle=st["wall_ms"] - st["busy_ms"],
                   busy=st["task_ms"] / (cores * st["wall_ms"]))
        rows.setdefault(st["name"], []).append(row)
    cols = ["wall", "build", "planning", "execution", "drain", "coverage",
            "jobs", "build_jobs", "tasks", "idle", "busy"]
    ms = {"wall", "build", "planning", "execution", "drain", "idle"}
    print("| query | wall s | build s | planning s | execution s | drain s | covered "
          "| jobs | build jobs | tasks | idle s | busy |")
    print("|" + "---|" * (len(cols) + 1))
    total = {c: 0.0 for c in cols}
    for name in sorted(rows):
        mean = {c: sum(r[c] for r in rows[name]) / len(rows[name]) for c in cols}
        for c in cols:
            total[c] += mean[c]
        print(f"| {name} | " + " | ".join(
            f"{mean[c] / 1e3:.3f}" if c in ms else f"{mean[c]:.2f}" for c in cols) + " |")
    total["coverage"] = sum(total[c] for c in m.SUITE_LAYERS) / total["wall"]
    total["busy"] = sum(sum(r["busy"] * r["wall"] for r in v) / len(v)
                        for v in rows.values()) / total["wall"]
    print("| **pass** | " + " | ".join(
        f"{total[c] / 1e3:.3f}" if c in ms else f"{total[c]:.2f}" for c in cols) + " |")
    print()
    eager = [n for n, v in rows.items() if sum(r["build"] for r in v) / len(v) >= EAGER_MS]
    eager_build = sum(sum(r["build"] for r in rows[n]) / len(rows[n]) for n in eager)
    print("| share of the pass wall | value |")
    print("|---|---|")
    for label, x in (
            ("build", total["build"]),
            (f"build of the {len(eager)} of {len(rows)} queries whose build takes "
             f">= {EAGER_MS / 1e3:g} s", eager_build),
            ("planning", total["planning"]), ("execution", total["execution"]),
            ("drain", total["drain"]), ("idle (no task running)", total["idle"])):
        print(f"| {label} | {x / total['wall']:.3f} |")
    print(f"| busy (task time over cores x wall) | {total['busy']:.3f} |")
    print()
    counts = {name: len(v) for name, v in rows.items()}
    name_of = {op: stats[op]["name"] for op in stats}
    selfs = {}
    for op, group in m.group_ops(spans).items():
        for k, t in m.self_times(group).items():
            selfs[k] = selfs.get(k, 0.0) + t / 1e3 / counts[name_of[op]]
    print("| span | self s per pass |")
    print("|---|---|")
    for k, t in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"| {k} | {t:.3f} |")


if __name__ == "__main__":
    main(sys.argv[1])
