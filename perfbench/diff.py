#!/usr/bin/env python3
"""Compare two traced runs span by span.

    python3 perfbench/diff.py A.json B.json

A and B are span files written by `run.py --trace 1` (one JSON object per
call: name, start, end, parent, run id and the folded Spark counters).
Spans are grouped by name. Job, stage and task counts repeat exactly for
a given seed and code, so their per-call means are compared exactly.
Shuffle and spill bytes are reported with their delta; they wobble by a
few hundred bytes between runs of one seed, so only a change beyond 1%
counts as a difference. Wall-clock is noisy: it is shown as a median with
the relative change and flagged (*) past 10%.

Exit code 1 when any span's counts or bytes differ (or a span exists on
one side only), 0 otherwise.
"""
import argparse
import json
import statistics
import sys

NOISE = 0.10      # relative wall-clock change flagged as a move
BYTES_TOL = 0.01  # relative byte change counted as a difference
COUNTS = ("jobs", "stages", "tasks")
BYTES = ("shuffle_read_b", "shuffle_write_b", "spill_b")


def load(path):
    with open(path) as f:
        spans = json.load(f)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return by


def summary(spans):
    out = {"calls": len(spans)}
    for c in COUNTS + BYTES:
        out[c] = sum(s[c] for s in spans) / len(spans)
    out["wall_s"] = statistics.median(s["wall_s"] for s in spans)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    differ = []
    print(f"{'span':40} {'calls':>9} {'jobs/call':>15} {'tasks/call':>15} "
          f"{'wall_s (noisy)':>24}")
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            differ.append(name)
            print(f"{name:40} only in {'A' if name in a else 'B'}")
            continue
        sa, sb = summary(a[name]), summary(b[name])
        moved = [c for c in COUNTS + BYTES if sa[c] != sb[c]]
        if any(sa[c] != sb[c] for c in COUNTS) or any(
                abs(sb[c] - sa[c]) > BYTES_TOL * max(sa[c], 1) for c in BYTES):
            differ.append(name)
        rel = (sb["wall_s"] - sa["wall_s"]) / sa["wall_s"] if sa["wall_s"] else 0.0
        flag = " *" if abs(rel) > NOISE else ""
        print(f"{name:40} {sa['calls']:>4}/{sb['calls']:<4} "
              f"{sa['jobs']:>7.2f}/{sb['jobs']:<7.2f} {sa['tasks']:>7.1f}/{sb['tasks']:<7.1f} "
              f"{sa['wall_s']:>8.3f}/{sb['wall_s']:<8.3f} {rel:+6.1%}{flag}")
        for c in moved:
            print(f"    {c}: {sa[c]:.2f} -> {sb[c]:.2f} ({sb[c] - sa[c]:+.2f} per call)")
    if differ:
        print(f"\ncounters differ in {len(differ)} span(s): {', '.join(differ)}")
        return 1
    print("\ncounts identical in every span; bytes within tolerance")
    return 0


if __name__ == "__main__":
    sys.exit(main())
