#!/usr/bin/env python3
"""Compare two traced benchmark profiles.

    python3 perfbench/profile_diff.py <base_trace.json> <new_trace.json> [--all]

A profile is what `run.py --trace 1` writes under perfbench/work/traces.
Per layer, and per op or staged artifact, the report prints count deltas
(jobs, tasks, plan nodes, micro-batches: repeatable, see NOTES.md)
apart from time deltas (seconds: noisy) and size deltas (MB). Every
ratio is printed with its base. Rows whose counts and times are all
unchanged are hidden unless --all is given.
"""
import json
import sys

COUNTS = ["jobs", "tasks", "sql_execs", "exchanges", "scans", "native_calls", "hof_lambdas",
          "batches", "input_rows", "state_rows"]
TIMES = ["dur_s", "plan_s", "exec_s", "cpu_s", "task_s", "trigger_s", "add_batch_s",
         "planning_s", "offsets_s", "wal_s"]
SIZES = ["shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "write_mb", "state_mb"]


def kind(metric):
    """'count', 'time' or 'size' for a layer metric name."""
    leaf = metric.split(".", 1)[-1]
    if leaf.endswith("_mb"):
        return "size"
    if leaf.endswith("_s"):
        return "time"
    return "count"


def delta(base, new):
    """'base -> new (+d, x r of base)'; the ratio is omitted on a zero base."""
    d = new - base
    r = f", x{new / base:.3f} of base {base:g}" if base else ", base 0"
    return f"{base:g} -> {new:g} ({d:+g}{r})"


def diff_rows(base, new, keys, show_all):
    out = []
    for k in keys:
        b, n = base.get(k, 0.0), new.get(k, 0.0)
        if show_all or b != n:
            out.append(f"    {k}: {delta(round(b, 6), round(n, 6))}")
    return out


def report(a, b, show_all=False):
    lines = [f"base: {a['workload']} seed {a['seed']}   new: {b['workload']} seed {b['seed']}"]
    for label, want in (("counts", "count"), ("times", "time"), ("sizes", "size")):
        keys = sorted(k for k in set(a["layers"]) | set(b["layers"]) if kind(k) == want)
        rows = diff_rows(a["layers"], b["layers"], keys, show_all)
        if rows:
            lines.append(f"layers, {label}:")
            lines += rows
    for key in sorted(set(a["rows"]) | set(b["rows"])):
        ra, rb = a["rows"].get(key, {}), b["rows"].get(key, {})
        counts = diff_rows(ra, rb, COUNTS, show_all)
        times = diff_rows(ra, rb, TIMES, show_all)
        sizes = diff_rows(ra, rb, SIZES, show_all)
        if counts or times or sizes:
            lines.append(f"{key}:")
            if counts:
                lines += ["  counts:"] + counts
            if times:
                lines += ["  times:"] + times
            if sizes:
                lines += ["  sizes:"] + sizes
    return "\n".join(lines)


def main(argv):
    paths = [p for p in argv if not p.startswith("--")]
    if len(paths) != 2:
        raise SystemExit(__doc__)
    with open(paths[0]) as f:
        a = json.load(f)
    with open(paths[1]) as f:
        b = json.load(f)
    print(report(a, b, "--all" in argv))


if __name__ == "__main__":
    main(sys.argv[1:])
