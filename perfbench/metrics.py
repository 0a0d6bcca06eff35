"""Arithmetic of the benchmark: percentiles, span self times, the layer
split of traced operations and the seeded query order.
"""
import random

SUITE_LAYERS = ("build", "planning", "execution", "drain")
PLANNING_PHASES = ("analysis", "optimization", "planning")
TICK_LAYERS = ("extract", "dims", "bronze", "silver", "gold")


def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def order(names, seed):
    """The seeded permutation of `names` a run executes."""
    xs = list(names)
    random.Random(seed).shuffle(xs)
    return xs


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Per span name, the summed self time: each span's duration minus
    the part of its interval its child spans cover. Spans are dicts with
    id, name, start, end, parent.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length(clip(kids, s["start"], s["end"]))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def suite_split(op_spans):
    """Layer times of one traced query, from its spans: build, planning
    (Spark's phases inside the action), execution (the action's SQL
    executions outside those phases) and drain, plus the wall they
    should add up to.
    """
    root = next(s for s in op_spans if s["parent"] == -1)
    by = lambda n: [s for s in op_spans if s["name"] == n]
    action = by("action")[0]
    phases = [(s["start"], s["end"]) for s in op_spans if s["name"] in PLANNING_PHASES]
    phases = clip(phases, action["start"], action["end"])
    execs = clip([(s["start"], s["end"]) for s in by("execution")],
                 action["start"], action["end"])
    build = by("build")[0]
    drain = by("drain")[0]
    return {
        "wall": root["end"] - root["start"],
        "build": build["end"] - build["start"],
        "planning": union_length(phases),
        "execution": union_length(phases + execs) - union_length(phases),
        "drain": drain["end"] - drain["start"],
    }


def tick_split(op_spans):
    """Layer times of one traced pipeline tick: extract, then each layer
    named by the output its write went to ("other" for executions that
    wrote nowhere the pipeline names).
    """
    root = next(s for s in op_spans if s["parent"] == -1)
    out = {"wall": root["end"] - root["start"]}
    for layer in TICK_LAYERS + ("other",):
        iv = [(s["start"], s["end"]) for s in op_spans
              if s["name"] == layer and s["parent"] == root["id"]]
        out[layer] = union_length(clip(iv, root["start"], root["end"]))
    return out


def coverage(split, layers):
    """Share of an operation's wall its layers account for."""
    return sum(split[k] for k in layers) / split["wall"] if split["wall"] > 0 else 1.0


def group_ops(spans):
    ops = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(s)
    return ops
