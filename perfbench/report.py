"""Per-layer self time and count tables from a benchmark span file.

A traced run (`run.py --trace 1`) writes one JSON span per line: kind, name,
start and end (epoch ms), attrs. Spans nest workload > phase > gate >
batch > sink > job > stage. A stage's parent is its job; any other span's
parent is the innermost span of an outer kind whose interval holds its
start. A span's self time is its duration minus the part of it that its
children cover.

Usage: python3 perfbench/report.py TRACE.jsonl [TRACE.jsonl ...]
"""
import bisect
import json
import sys

LEVELS = ["workload", "phase", "gate", "batch", "sink", "job", "stage"]
SLACK_MS = 1.0  # listener timestamps are whole milliseconds


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def link(spans):
    """Sets span["parent"] to the index of its parent span, or None."""
    by_level = {k: [] for k in LEVELS}
    for i, s in enumerate(spans):
        by_level[s["kind"]].append(i)
    starts = {}
    for k, idx in by_level.items():
        idx.sort(key=lambda i: spans[i]["start"])
        starts[k] = [spans[i]["start"] for i in idx]
    jobs = {spans[i]["key"]: i for i in by_level["job"]}
    for s in spans:
        s["parent"] = None
        if s["kind"] == "stage" and s["attrs"].get("job", -1) in jobs:
            s["parent"] = jobs[s["attrs"]["job"]]
            continue
        for outer in reversed(LEVELS[:LEVELS.index(s["kind"])]):
            j = bisect.bisect_right(starts[outer], s["start"] + SLACK_MS) - 1
            if j >= 0:
                p = by_level[outer][j]
                if spans[p]["end"] + SLACK_MS >= s["start"]:
                    s["parent"] = p
                    break
    return spans


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans):
    """kind -> (count, total ms, self ms)."""
    link(spans)
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {k: [0, 0.0, 0.0] for k in LEVELS}
    for i, s in enumerate(spans):
        d = max(0.0, s["end"] - s["start"])
        own = d - covered(s["start"], s["end"], children.get(i, []))
        row = out[s["kind"]]
        row[0] += 1
        row[1] += d
        row[2] += own
    return {k: tuple(v) for k, v in out.items()}


def table(spans):
    names = {}
    for s in spans:
        if s["kind"] == "workload":
            names["workload"] = s["name"]
    t = self_times(spans)
    wall = t["workload"][1] or 1.0
    lines = [f"workload {names.get('workload', '?')}",
             f"{'layer':<10}{'count':>8}{'total_ms':>14}{'self_ms':>14}{'self_share':>12}"]
    for k in LEVELS:
        n, tot, own = t[k]
        lines.append(f"{k:<10}{n:>8}{tot:>14.1f}{own:>14.1f}{own / wall:>12.3f}")
    return "\n".join(lines)


def main(paths):
    for p in paths:
        print(table(load(p)))
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
