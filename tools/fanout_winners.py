#!/usr/bin/env python3
"""Re-derive the r16 scan fan-out winner list from a committed bench A/B pair.

Usage: tools/fanout_winners.py [baseline.json] [treatment.json]

Selection rule (the one that produced the r16 block of the `fanout` set in
src/main/scala/graft/queries/QueryHints.scala):
a query is a winner iff, over the two full-suite best-of-pass records,
    treatment_best / max(baseline_best, 0.1)  <= 0.75
and baseline_best - treatment_best           >= 0.1 s.

Defaults to the r16 pair so the shipped list is reproducible:
    tools/fanout_winners.py
prints the exact r16 block of that set.
"""
import json
import math
import sys

FLOOR = 0.1
RATIO_MAX = 0.75
SAVE_MIN = 0.1


def main() -> None:
    base_path = sys.argv[1] if len(sys.argv) > 1 else "bench_results/r16_baseline.json"
    treat_path = sys.argv[2] if len(sys.argv) > 2 else "bench_results/r16_fanout.json"
    base = json.load(open(base_path))["best"]
    treat = json.load(open(treat_path))["best"]
    common = sorted(set(base) & set(treat))
    winners = [
        q for q in common
        if max(treat[q], FLOOR) / max(base[q], FLOOR) <= RATIO_MAX
        and base[q] - treat[q] >= SAVE_MIN
    ]
    ratios = [max(treat[q], FLOOR) / max(base[q], FLOOR) for q in common]
    geomean = math.exp(sum(map(math.log, ratios)) / len(ratios))
    save = sum(base[q] - treat[q] for q in winners)
    print(f"# n_common={len(common)} geomean(treat/base)={geomean:.3f} "
          f"winners={len(winners)} total_save={save:.1f}s")
    for i in range(0, len(winners), 4):
        row = ", ".join(f'"{q}"' for q in winners[i:i + 4])
        sep = ")" if i + 4 >= len(winners) else ","
        print(f"    {row}{sep}")


if __name__ == "__main__":
    main()
