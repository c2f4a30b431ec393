#!/usr/bin/env python3
"""Compare traced benchmark runs: which counters changed, and by how much
the timing layers moved against their run-to-run spread.

    python3 perfbench/diff_counters.py --base A.json [A2.json ...] \\
        --head B.json [B2.json ...] [--untraced U.json ...]

Arguments are result files that run.py writes under perfbench/.work/results/
for --trace 1 runs of one workload. Counters that are a function of the
plan and the data (jobs, stages, tasks, plan shape, shuffled records,
scanned rows, lake files, eager jobs) must repeat exactly for one seed, so
any change is flagged, per op. Timing layers are reported as median and
quartiles per side. With --untraced (--trace 0 result files of the head
side) the tracing overhead, traced wall_s minus untraced wall_s, is printed
too. Exits 1 if an exact counter changed.
"""
import argparse
import json
import statistics

EXACT_PREFIXES = ("plan.",)
EXACT = {"sched.jobs", "sched.stages", "sched.tasks", "sched.scan_tasks",
         "shuffle.records", "scan.rows", "lake.files_written", "operators.eager_jobs"}


def is_exact(name):
    return name in EXACT or name.startswith(EXACT_PREFIXES)


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def exact_values(runs):
    """{(scope, counter): set of values} over every run and warm pass, where
    scope is an op name or "pass" for the pass-level metrics."""
    out = {}
    for r in runs:
        for op, passes in r.get("op_counters", {}).items():
            for counters in passes:
                for k, v in counters.items():
                    if is_exact(k):
                        out.setdefault((op, k), set()).add(v)
        for k, m in r["metrics"].items():
            if is_exact(k):
                out.setdefault(("pass", k), set()).add(m["value"])
    return out


def spread(values):
    if len(values) < 2:
        return statistics.median(values), None, None
    q = statistics.quantiles(values, n=4)
    return statistics.median(values), q[0], q[2]


def fmt(med, q1, q3):
    return f"{med:.4g}" if q1 is None else f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    ap.add_argument("--untraced", nargs="*", default=[])
    a = ap.parse_args()
    base, head = load(a.base), load(a.head)
    for side, runs in (("base", base), ("head", head)):
        if any(r["context"]["trace"] != 1 for r in runs):
            ap.error(f"--{side} takes result files of --trace 1 runs")
    workloads = {r["context"]["workload"] for r in base + head}
    if len(workloads) != 1:
        ap.error(f"result files of one workload expected, got {sorted(workloads)}")

    changed = 0
    bx, hx = exact_values(base), exact_values(head)
    for key in sorted(set(bx) | set(hx)):
        b, h = bx.get(key, set()), hx.get(key, set())
        if b != h or len(b) > 1:
            changed += 1
            print(f"CHANGED  {key[1]:24s} {key[0]:28s} base {sorted(b)} head {sorted(h)}")
    print(f"{changed} exact counters changed ({len(set(bx) | set(hx))} compared)")

    print("timing layers: median [q1, q3] per side, head/base")
    for name in base[0]["metrics"]:
        if is_exact(name):
            continue
        bs = spread([r["metrics"][name]["value"] for r in base])
        hs = spread([r["metrics"][name]["value"] for r in head])
        ratio = f"{hs[0] / bs[0]:.3f}" if bs[0] else "-"
        unit = base[0]["metrics"][name]["unit"]
        print(f"  {name:24s} {fmt(*bs):>32s} -> {fmt(*hs):>32s} {unit:6s} x{ratio}")

    if a.untraced:
        plain = load(a.untraced)
        traced = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in head)
        untraced = statistics.median(r["metrics"]["wall_s"]["value"] for r in plain)
        print(f"tracing overhead: traced wall_s {traced:.4g} s - untraced {untraced:.4g} s "
              f"= {traced - untraced:+.4g} s ({(traced - untraced) / untraced:+.1%})")
    return 1 if changed else 0


if __name__ == "__main__":
    raise SystemExit(main())
