#!/usr/bin/env python3
"""Compare the deterministic counters of two traced benchmark runs.

    python3 perfbench/tracediff.py OLD.trace.json NEW.trace.json

Trace files are written by `perfbench/run.py --trace 1` under
.bench_build/runs/. The counters compared are the trace's
`deterministic` ones (perfbench/layers.json, deterministic_counters):
they repeat exactly for one seed and one program, so any move is
reported as a plan-shape change, whatever the wall clock says. Exits 1
when a counter moved, 0 otherwise.
"""
import json
import sys


def moved(old: dict, new: dict) -> dict:
    """Counter name -> (old, new) for every deterministic counter that differs."""
    a, b = old["deterministic"], new["deterministic"]
    return {k: (a.get(k), b.get(k)) for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)}


def pass_seconds(trace: dict) -> list:
    return [p["pass_s"] for p in trace.get("passes", []) if p["kind"] == "warm"]


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old, new = (json.load(open(p)) for p in argv)
    changes = moved(old, new)
    for k, (a, b) in changes.items():
        print(f"PLAN-SHAPE CHANGE {k}: {a} -> {b}")
    print(f"warm pass_s: {pass_seconds(old)} -> {pass_seconds(new)} (wall clock, for context)")
    print(f"{len(changes)} deterministic counter(s) moved out of {len(old['deterministic'])}")
    return 1 if changes else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
