#!/usr/bin/env python3
"""Compare the stderr of two graft.Bench runs (sf0.1 vs sf1.0 scaling probe).

Usage: python3 tools/probe_ratio.py <sf01.txt> <sf1.txt> [extra01.txt ...]

Each input holds `BENCH <name> cold=X warm=Y1,Y2,... jobs=... family=F` lines
(seconds; other lines are skipped; logs from before `family=` was added parse
too, with family "-"). The per-query statistic is the MEDIAN of the warm
reps (all timings after cold). Prints
name, family, sf0.1 median, sf1.0 median, ratio, sorted by ratio descending,
and flags ratios > 15 (the n log n headroom gate for 10x data).
"""
import re
import statistics
import sys

LINE = re.compile(r"BENCH\s+(\S+)\s+cold=\S+ warm=([\d.,]+)(?:.*\sfamily=(\S+))?")


def load(paths, families):
    out = {}
    for path in paths:
        for ln in open(path):
            m = LINE.search(ln)
            if not m:
                continue
            name, warm, family = m.groups()
            out[name] = statistics.median(float(x) for x in warm.split(","))
            if family:
                families[name] = family
    return out


def main():
    families = {}
    base = load(sys.argv[1:2] + sys.argv[3:], families)
    big = load(sys.argv[2:3], families)
    rows = []
    for name, b in sorted(base.items()):
        if name not in big:
            rows.append((float("nan"), name, b, None))
            continue
        rows.append((big[name] / b, name, b, big[name]))
    rows.sort(key=lambda r: -(r[0] if r[0] == r[0] else 1e9))
    flagged = 0
    for ratio, name, b, g in rows:
        if g is None:
            print(f"{name:28s} {families.get(name, '-'):10s} sf0.1={b:7.2f}s sf1.0=MISSING")
            continue
        flag = "  <-- SUPER-LINEAR (>15x)" if ratio > 15 else ""
        if flag:
            flagged += 1
        print(f"{name:28s} {families.get(name, '-'):10s} sf0.1={b:7.2f}s sf1.0={g:7.2f}s "
              f"ratio={ratio:6.2f}{flag}")
    tb = sum(b for _, _, b, g in rows if g is not None)
    tg = sum(g for _, _, _, g in rows if g is not None)
    print(f"\nTOTAL probed: sf0.1={tb:.1f}s sf1.0={tg:.1f}s ratio={tg / tb:.2f}; "
          f"{flagged} queries over the 15x gate")


if __name__ == "__main__":
    main()
