#!/usr/bin/env python3
"""Parent-versus-change comparison.

    python3 perfbench/compare.py PARENT_CHECKOUT CHANGE_CHECKOUT \
        [--workloads query-pack,snapshot-scan,commit-mix] [--pairs 10]

Both checkouts must hold the same perfbench/ directory: the benchmark is
fixed and only the program differs. For each workload the tool first makes
one traced run per side and compares the exactly repeating counts; then it
makes --pairs untraced pairs, seed i for pair i, alternating which side
runs first. It prints one row per end-to-end metric and workload:

  gain         the change wins at least 9 of 10 pairs (ties count for
               neither) and the medians differ by more than the parent's
               interquartile range
  regression   the change's median is worse than the parent's by more than
               the metric's bound
  unresolved   the parent's spread (IQR / median) exceeds the bound, and not
               every change run beats every parent run
  same         none of the above
"""
import argparse
import hashlib
import json
import os
import pathlib
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import catalog  # noqa: E402

WIN_SHARE = 0.9


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def improves(change, parent, better):
    return change > parent if better == "higher" else change < parent


def verdict(parent, change, better, bound):
    """parent and change are paired lists (pair i = same seed)."""
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if improves(c, p, better))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = cm - pm if better == "higher" else pm - cm  # > 0: change better
    if wins >= WIN_SHARE * len(pairs) and gap > (p3 - p1):
        return "gain", wins
    if -gap > bound * pm:
        return "regression", wins
    all_better = all(improves(c, p, better) for c in change for p in parent)
    if spread(parent) > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def exact_diff(parent_metrics, change_metrics):
    """Names of exact counts whose values differ between the two sides."""
    return [n for n in catalog.EXACT
            if parent_metrics.get(n) != change_metrics.get(n)]


def tree_hash(root):
    h = hashlib.sha256()
    base = pathlib.Path(root) / "perfbench"
    for p in sorted(base.rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(base)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_once(checkout, workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = out.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{checkout}: no output ({workload}, seed {seed})")
    r = json.loads(lines[-1])
    return {k: v["value"] for k, v in r["metrics"].items()}, r["correct"]


def collect(a):
    if tree_hash(a.parent) != tree_hash(a.change):
        sys.exit("perfbench/ differs between the checkouts; compare with "
                 "identical benchmark code")
    runs = {}
    for wl in a.workloads:
        traced = {side: run_once(path, wl, 1, a.seconds, 1)[0]
                  for side, path in (("parent", a.parent),
                                     ("change", a.change))}
        timed = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            for side, path in order:
                m, ok = run_once(path, wl, i + 1, a.seconds, 0)
                if not ok:
                    print(f"{wl} {side} seed {i + 1}: incorrect output")
                timed[side].append(m)
        runs[wl] = {"traced": traced, "timed": timed}
    return runs


def report(runs):
    rows = []
    for wl, r in runs.items():
        diff = exact_diff(r["traced"]["parent"], r["traced"]["change"])
        counts = "equal" if not diff else "differ: " + ", ".join(
            f"{n} {r['traced']['parent'].get(n)} -> "
            f"{r['traced']['change'].get(n)}" for n in diff)
        rows.append(f"{wl:<14} exact counts {counts}")
    header = (f"{'workload':<14} {'metric':<13} {'parent med [q1,q3]':>28} "
              f"{'change med [q1,q3]':>28} {'wins':>6}  verdict")
    rows.append(header)
    for wl, r in runs.items():
        for name, _, better, bound in catalog.END_TO_END:
            p = [m[name] for m in r["timed"]["parent"]]
            c = [m[name] for m in r["timed"]["change"]]
            v, wins = verdict(p, c, better, bound)
            pq, cq = quartiles(p), quartiles(c)
            rows.append(
                f"{wl:<14} {name:<13} "
                f"{pq[1]:>10.4g} [{pq[0]:.4g},{pq[2]:.4g}]".ljust(57) +
                f"{cq[1]:>10.4g} [{cq[0]:.4g},{cq[2]:.4g}]".rjust(28) +
                f" {wins:>2}/{len(p):<3}  {v}")
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads",
                    default=",".join(n for n, _ in catalog.WORKLOADS))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=catalog.RUN_SECONDS)
    a = ap.parse_args()
    a.workloads = a.workloads.split(",")
    print(report(collect(a)))


if __name__ == "__main__":
    main()
