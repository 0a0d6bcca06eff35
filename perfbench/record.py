#!/usr/bin/env python3
"""Record the suite's output fingerprints at the current commit.

Runs every query twice on the sf0.1 tables and writes
`perfbench/fingerprints/sf0.1.tsv` (`name<TAB>rows<TAB>hash`). A query
whose two executions disagree, or that fails, is left out of the file
and listed in `perfbench/fingerprints/unstable.txt`; the suite then
counts it as failed on every run, so it is never skipped silently.
Record only at a commit whose outputs pass the DuckDB oracle.

The second execution of each query is traced; its spans go to
`.bench_build/traces/record-sf0.1.jsonl`, the full suite's layer table
(`python3 perfbench/report.py .bench_build/traces/record-sf0.1.jsonl`).
Run from the repository root:

    python3 perfbench/record.py
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import jvm  # noqa: E402


def main(root="."):
    records, _ = jvm.run(root, "record", {
        "data": jvm.data_dir(root, "sf0.1"), "cores": os.cpu_count()}, 3000)
    rows = [r for r in records if r.get("k") == "record"]
    good = [r for r in rows if r["stable"] and not r["error"]]
    bad = [r for r in rows if not (r["stable"] and not r["error"])]
    fingerprints = os.path.join(root, "perfbench", "fingerprints")
    with open(os.path.join(fingerprints, "sf0.1.tsv"), "w") as f:
        f.write("# name\trows\thash -- sf0.1, recorded twice, stable\n")
        for r in good:
            f.write(f"{r['name']}\t{r['rows']}\t{r['hash']}\n")
    with open(os.path.join(fingerprints, "unstable.txt"), "w") as f:
        f.write("# query\treason -- queries without a committed fingerprint\n")
        for r in bad:
            f.write(f"{r['name']}\t{r['error'] or 'fingerprint differs between executions'}\n")
    traces = os.path.join(root, build.BUILD_DIR, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, "record-sf0.1.jsonl"), "w") as f:
        for r in records:
            if r.get("k") in ("span", "opstats"):
                f.write(json.dumps(r) + "\n")
    for r in rows:
        print(f"{r['name']}\t{r['s1']:.3f}\t{r['s2']:.3f}\t"
              f"{'ok' if r in good else 'UNSTABLE ' + str(r['error'])}")
    print(f"{len(bad)} unstable", file=sys.stderr)


if __name__ == "__main__":
    main()
