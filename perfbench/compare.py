#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the standard output of `run.py`, one file per run,
named `<workload>.<seed>.out` (any prefix before the workload is allowed).
Runs of the two sets are paired by workload and seed. For every
(workload, metric) the script prints each set's median and quartiles and
a verdict:

- `gain`: the change wins at least 9 of 10 pairs (ties count for neither)
  and the medians differ by more than the base set's interquartile range;
- `regression`: the change's median is worse than the base median by more
  than the metric's bound in BENCHMARK.json;
- `unresolved`: a set's spread (interquartile range / median) exceeds the
  bound, unless every change run is better than every base run;
- `within bound` otherwise.

Metrics without a bound (the per-layer ones) get `gain` or `-`. The exit
status is 1 when any metric regressed or is unresolved, else 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    metrics = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    return [w["name"] for w in b["workloads"]], metrics


def load_set(path, workloads):
    """{(workload, seed): metrics dict} from a directory of run outputs."""
    runs = {}
    for name in sorted(os.listdir(path)):
        parts = name.split(".")
        hits = [i for i, p in enumerate(parts[:-1]) if p in workloads]
        if not hits or not name.endswith(".out"):
            continue
        i = hits[-1]
        with open(os.path.join(path, name)) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        if not lines:
            continue
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            continue
        runs[(parts[i], parts[i + 1])] = {
            k: v["value"] for k, v in res.get("metrics", {}).items()}
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, pairs, better, bound):
    """base/change: value lists; pairs: [(base, change)] by seed."""
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0
    # positive `gap` means the change is better
    gap = sign * (bm - cm)
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    decided = sum(1 for b, c in pairs if b != c)
    gain = decided > 0 and wins >= 0.9 * len(pairs) and gap > (b3 - b1)
    if bound is None:
        return "gain" if gain else "-"
    spread = max((b3 - b1) / abs(bm) if bm else 0.0,
                 (c3 - c1) / abs(cm) if cm else 0.0)
    all_better = all(sign * (b - c) > 0 for b in base for c in change)
    if spread > bound and not all_better:
        return "unresolved"
    if gain or all_better:
        return "gain"
    if bm and -gap / abs(bm) > bound:
        return "regression"
    return "within bound"


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    workloads, metrics = load_bench()
    base, change = load_set(argv[1], workloads), load_set(argv[2], workloads)
    bad = 0
    print(f"{'workload':<13} {'metric':<26} {'n':>3} "
          f"{'base q1/median/q3':>32} {'change q1/median/q3':>32}  verdict")
    for w in workloads:
        seeds = sorted({s for (ww, s) in base if ww == w} |
                       {s for (ww, s) in change if ww == w})
        names = sorted({k for (ww, s), m in list(base.items()) + list(change.items())
                        if ww == w for k in m})
        for name in names:
            if name not in metrics:
                continue
            bv = [base[(w, s)][name] for s in seeds
                  if (w, s) in base and name in base[(w, s)]]
            cv = [change[(w, s)][name] for s in seeds
                  if (w, s) in change and name in change[(w, s)]]
            if not bv or not cv:
                continue
            pairs = [(base[(w, s)][name], change[(w, s)][name]) for s in seeds
                     if name in base.get((w, s), {}) and name in change.get((w, s), {})]
            m = metrics[name]
            v = verdict(bv, cv, pairs, m["better"], m.get("bound"))
            if v in ("regression", "unresolved"):
                bad += 1
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:<13} {name:<26} {len(pairs):>3} {fmt(quartiles(bv)):>32} "
                  f"{fmt(quartiles(cv)):>32}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
