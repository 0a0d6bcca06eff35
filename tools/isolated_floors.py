#!/usr/bin/env python3
"""Fresh-JVM isolated floors at a given SF dir, storm-rejecting.

One graft.Bench JVM per ATTEMPT (the bench itself times 2-3 runs
in-JVM and reports the min); attempts repeat until the two best agree
within the calm tolerance (default 10%) or the attempt budget runs
out. Rationale (r13 verdict item 3): this host has a storm class
where 1-4 consecutive slots run 2-4x slow with inflated user
thread-CPU while sys/iowait/steal stay quiet - a single attempt, or
even min-of-3 inside one JVM window, can land entirely inside a storm
(q128's r13 floor samples read 55.9 -> 29.4 -> 17.1 s, still
decaying). Two INDEPENDENT fresh-JVM attempts agreeing within ~10%
is evidence the min is the plan's cost, not the machine's mood; the
artifact records every attempt plus the calm_pair verdict so a
no-agreement floor is self-identifying instead of silently suspect.

Per-attempt detail rows are taken from bench_regime.jsonl, which is
REMOVED before each attempt (r13 ADVICE: substring-matching the
repo-level jsonl let rows from earlier suite runs leak into the floor
artifact; graft.Bench resets the file itself, but the guard must not
depend on which GRAFT_MAIN ran last).

Emits ISOLATED-style JSON:
  {"sf": ..., "method": ..., "queries": {name: {
      "sec": best, "calm_pair": bool, "attempts": [sec...],
      "regime": {...}, "runs": [per-timing rows of the best attempt]}}}

Acceptance (r16, upgrades the r14 two-best rule): calm when ANY two
attempts agree within the tolerance — the floor is the LOWER of the
lowest agreeing pair in sorted order, not the global min. Rationale
(r15 verdict item 2): q07's five attempts 1.77/1.39/1.19/1.32/1.31
have a tight 1.31/1.32 cluster but were rejected because the two BEST
(1.19 vs 1.31) disagree 10.4% — a lone fast outlier shouldn't storm-
reject a confirmed cluster, and it also shouldn't BE the citable
floor, since only values another independent JVM reproduced within
tolerance are evidence of the plan's cost rather than one draw's luck.

Per-attempt storm flags (r15 verdict item 6): each attempt's regime
(task-CPU, input MB, sys/steal shares, aggregated from its bench
rows) is classified against the best attempt with the SAME storm
signature graft.Bench uses in-process (Bench.scala stormSignature):
task-CPU inflation at flat input, host steal, or a sys-share step.
Floors artifacts then carry regime-classified attempts, not just
wall-clock spread.

Usage: tools/isolated_floors.py <sfdir> <out.json> <query> [query...]
  env: GRAFT_FLOOR_ATTEMPTS (max fresh JVMs per query, default 5)
       GRAFT_FLOOR_TOL      (calm agreement tolerance, default 0.10)
"""
import json
import os
import subprocess
import sys


def attempt_timing(runs):
    """Fold an attempt's per-timing bench rows into one Timing-like
    dict mirroring graft.BenchKernel.Timing: the fields of the FASTEST
    ok row (the row behind the attempt's reported min)."""
    ok = [r for r in runs if r.get("ok") and r.get("sec", -1) >= 0]
    if not ok:
        return None
    r = min(ok, key=lambda r: r["sec"])
    return {"sec": r["sec"], "task_cpu_ms": r.get("task_cpu_ms", -1),
            "input_mb": r.get("input_mb", -1),
            "sys_share": r.get("sys_share", -1.0),
            "steal_share": r.get("host_steal_share", -1.0)}


def storm_signature(fast, slow):
    """Port of graft.BenchKernel.stormSignature (Bench.scala): does
    `slow` carry storm evidence relative to `fast`? Mirrors the r17
    in-process rule: the cpu-inflation arm requires BOTH input counts
    present and flat (r15 ADVICE: missing IO metrics must not default
    to 'flat input'), with the r17 zero-input fallback — a CONSISTENT
    0 MB on both sides is a genuinely sub-MB scan (q92/q93 class) and
    keeps cpu-inflation protection above a 100 ms task-CPU floor.
    `input_mb` / `task_cpu_ms` of -1 mean "unreported" (the window's
    IO accounting was incomplete, or the row predates the field); no
    clause of the cpu arm admits -1."""
    if fast is None or slow is None:
        return False
    fi, si = fast["input_mb"], slow["input_mb"]
    flat_input = (fi > 0 and si > 0 and
                  abs(fi - si) <= 0.1 * max(fi, si, 1)) or \
        (fi == 0 and si == 0 and fast["task_cpu_ms"] >= 100)
    cpu_inflated = flat_input and fast["task_cpu_ms"] > 0 and \
        slow["task_cpu_ms"] > fast["task_cpu_ms"] * 1.4
    host_anomaly = slow["steal_share"] > 0.02 or \
        (slow["sys_share"] > 0.35 and fast["sys_share"] >= 0 and
         slow["sys_share"] > fast["sys_share"] * 1.5)
    return cpu_inflated or host_anomaly


def calm_floor(secs, tol):
    """(floor, calm): the lower value of the LOWEST sorted-adjacent
    pair agreeing within tol, or (min, False) when no two attempts
    confirm each other."""
    s = sorted(x for x in secs if x >= 0)
    for lo, hi in zip(s, s[1:]):
        if hi <= lo * (1 + tol):
            return lo, True
    return (s[0], False) if s else (-1.0, False)


def one_attempt(repo: str, sfdir: str, q: str):
    """One fresh-JVM bench of `q`; returns (sec, regime, runs)."""
    env = dict(os.environ)
    env["SPARK_GRAFT_ONLY"] = q
    env.setdefault("SPARK_DRIVER_MEM", "48g")
    regime_path = os.path.join(repo, "bench_regime.jsonl")
    try:
        os.remove(regime_path)
    except OSError:
        pass
    subprocess.run(
        [os.path.join(repo, "tools", "run_bench.sh"), sfdir],
        env=env, cwd=repo, check=True,
        stdout=subprocess.DEVNULL, timeout=900)
    with open(os.path.join(repo, "bench_last.json")) as f:
        line = json.load(f)
    sec = line["queries"][shorten(q)]
    regime = line.get("regime_all_runs", line.get("regime", {}))
    # carry the bench's layout self-description into the regime row so
    # floor artifacts are never compared across layouts silently (r16
    # verdict item 6; "plain" default covers pre-r17 bench binaries)
    regime = dict(regime, layout=line.get("layout", "plain"))
    runs = []
    try:
        with open(regime_path) as f:
            runs = [json.loads(l) for l in f if l.strip()]
    except OSError:
        pass
    return sec, regime, runs


def main() -> None:
    sfdir, out = sys.argv[1], sys.argv[2]
    queries = sys.argv[3:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    max_attempts = int(os.environ.get("GRAFT_FLOOR_ATTEMPTS", "5"))
    tol = float(os.environ.get("GRAFT_FLOOR_TOL", "0.10"))
    results = {}
    for i, q in enumerate(queries):
        attempts = []   # [(sec, regime, runs)]
        calm = False
        try:
            while len(attempts) < max_attempts:
                attempts.append(one_attempt(repo, sfdir, q))
                print(f"  attempt {len(attempts)}: {attempts[-1][0]:.3f}s",
                      flush=True)
                floor, calm = calm_floor([a[0] for a in attempts], tol)
                if calm:
                    break
            secs = [a[0] for a in attempts]
            valid = [a for a in attempts if a[0] >= 0]
            if not valid:
                raise RuntimeError("no successful attempt")
            floor, calm = calm_floor(secs, tol)
            # cite the attempt whose sec IS the floor (the lower of the
            # agreeing pair), not the global min a lone outlier could be
            best = min((a for a in valid if a[0] >= floor),
                       key=lambda a: a[0])
            # regime-classify every attempt against the floor attempt
            # (Bench.scala stormSignature, ported above)
            base = attempt_timing(best[2])
            storm_flags = [storm_signature(base, attempt_timing(a[2]))
                           if a[0] >= 0 else None for a in attempts]
            results[q] = {"sec": best[0], "calm_pair": calm,
                          "attempts": secs,
                          "attempt_storm": storm_flags,
                          "regime": best[1],
                          "runs": best[2]}
            flag = "" if calm else "  [NO CALM PAIR - suspect]"
            print(f"[{i+1}/{len(queries)}] {q:35s} {best[0]:8.3f}s "
                  f"({len(attempts)} attempts){flag}", flush=True)
        except Exception as e:  # noqa: BLE001 - record and continue
            results[q] = {"sec": -1, "calm_pair": False,
                          "attempts": [a[0] for a in attempts],
                          "error": str(e)[:200]}
            print(f"[{i+1}/{len(queries)}] {q:35s} FAILED: {e}", flush=True)
    doc = {
        "sf": sfdir,
        "method": (f"fresh JVM per attempt, up to {max_attempts} attempts; "
                   f"calm when ANY two attempts agree within {tol:.0%}, "
                   "floor = lower of the lowest agreeing pair (r16: a lone "
                   "fast outlier neither storm-rejects a confirmed cluster "
                   "nor becomes the citable floor); graft.Bench internal "
                   "min-of-2 (3rd sample on >1.5x spread) per attempt; "
                   "attempt_storm = per-attempt stormSignature vs the floor "
                   "attempt (task-CPU inflation at flat input, steal, "
                   "sys step); regime+runs from the floor attempt only"),
        "queries": results,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out} ({len(results)} queries)")


def shorten(name: str) -> str:
    if name.startswith("flight_q"):
        digits = "".join(c for c in name[len("flight_q"):] if c.isdigit())
        return "fq" + digits
    return name.split("_")[0]


if __name__ == "__main__":
    main()
