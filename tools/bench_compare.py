#!/usr/bin/env python3
"""Cross-round bench regression gate over the FULL per-query map.

Usage: python3 tools/bench_compare.py OLD.json NEW.json [ratio] [abs_sec]

Both inputs are `graft.Bench` outputs (bench_full.json — one JSON object
with a "queries" map). A query REGRESSES when new > ratio*old AND
new - old > abs_sec (defaults 2.0 and 0.2 — the standing verdict gate).
Also reports the common-query sums (the uniform host-drift indicator:
a heavy-day run inflates everything by a similar factor, a real
regression moves specific queries) and the entries present on only one
side. A query named in NEW's "failed" list but not in OLD's is a new
failure: its time still stands in "queries" and is fast because it threw,
so it fails the gate whatever its time. An input without "failed" has no
failures. Exits non-zero iff any query trips the gate or newly fails.
"""
import json
import sys


def load(path):
    """(per-query seconds, set of failed query names) of one Bench output."""
    with open(path) as f:
        d = json.load(f)
    return d["queries"], set(d.get("failed", []))


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    (old, old_failed), (new, new_failed) = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    abs_sec = float(sys.argv[4]) if len(sys.argv) > 4 else 0.2
    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    regs = [(q, old[q], new[q]) for q in common
            if new[q] > ratio * old[q] and new[q] - old[q] > abs_sec]
    so, sn = sum(old[q] for q in common), sum(new[q] for q in common)
    print(f"common: {len(common)}  added: {len(added)}  removed: {len(removed)}")
    if common:
        print(f"common-query sum: {so:.1f}s -> {sn:.1f}s  (x{sn / max(so, 1e-9):.2f} "
              "— uniform inflation = host drift, not regression)")
        worst = sorted(common, key=lambda q: -(new[q] / max(old[q], 1e-9)))[:5]
        print("worst ratios:",
              [(q, round(old[q], 2), round(new[q], 2),
                round(new[q] / max(old[q], 1e-9), 2)) for q in worst])
    else:
        print("no common queries — disjoint surfaces; added/removed below")
    if added:
        cost = sum(new[q] for q in added)
        print(f"new queries cost {cost:.2f}s:",
              [(q, round(new[q], 2)) for q in
               sorted(added, key=lambda q: -new[q])[:10]])
    if removed:
        print("removed:", removed)
    newly_failed = sorted(new_failed - old_failed)
    if newly_failed:
        print("\nNEWLY FAILED (threw in NEW's timed run, not in OLD's):")
        for q in newly_failed:
            print(f"  {q}")
    if regs:
        print(f"\nREGRESSIONS past the >{ratio}x-and->{abs_sec}s gate:")
        for q, o, n in sorted(regs, key=lambda r: -(r[2] - r[1])):
            print(f"  {q}: {o:.2f}s -> {n:.2f}s  (x{n / o:.2f}, +{n - o:.2f}s)")
    if regs or newly_failed:
        return 1
    print(f"\nzero regressions past the >{ratio}x-and->{abs_sec}s gate")
    return 0


if __name__ == "__main__":
    sys.exit(main())
