#!/usr/bin/env python3
"""Auto-adjudicate burst-contaminated bench queries (r16 verdict #6).

Reads a bench.json (the FULL record Bench writes), selects every query
that needs isolated re-measurement — the `queries_contaminated` list,
plus any query whose recorded foreign-CPU exceeds the same gate Bench
applies (foreign core-s > 0.5 x query wall x cores, floor 10 core-s) —
and runs each through `graft.RunOne <query> <sf> --reps N --json P` in
its own JVM, sequentially, composing tools/adjudications_r{N}.json
automatically instead of by hand. RunOne builds Bench's session
(graft.GraftSession) and, like Bench, evicts a trainer query's memo
before every rep (SparkEntry.evictTrainerMemo: the three BPE trainers
and semdedup_prune), so each rep of a trainer pays a real training run
and its number is comparable with the bench median.

Usage:
  python3 tools/adjudicate.py bench.json tools/adjudications_r17.json \
      [--reps 4] [--extra q1,q2] [--prev prev_bench.json]

The output rows carry the isolated rep times, per-rep foreign-CPU and
the warm lower-median (`iso_mid`). `resolved` is set mechanically:
true when iso_mid <= 0.67 x the contaminated bench median (the bench
number was burst inflation), else false (a real regression — look at
the plan). The `note` records the evidence either way.

--prev (r17 verdict #1): also adjudicate ROUND-OVER-ROUND MOVERS —
any query whose median moved >2x in either direction vs the previous
round's committed bench snapshot. The foreign-CPU gate only sees
cross-process bursts; same-JVM inflation (GC/pass interaction) moves
a committed sf0.1 median by multiples with `queries_contaminated`
empty, so the committed snapshot silently drifts from steady state.

Mover resolution is DIRECTION-AWARE (r18: the original 1.5x-of-min
rule could never resolve a genuine improvement on a sub-second query,
because an isolated RunOne pays a fixed fresh-JVM floor of ~0.3-0.5 s
that the in-sweep median does not):
  - cur < prev (downward mover / improvement): resolved when
    iso_mid <= 0.67 x prev — isolation CONFIRMS the query no longer
    costs what the previous snapshot recorded.
  - cur > prev (upward mover / apparent regression): resolved when
    iso_mid <= max(1.5 x prev, prev + 0.5) — isolated steady state
    still sits near the old number (the +0.5 s absolute allowance is
    the RunOne fresh-JVM floor, which dominates sub-second queries).
A mover that fails its gate stays unresolved — a real change,
inspect the plan.
"""
import json
import subprocess
import sys
import tempfile
import os


def main() -> int:
    args = [a for a in sys.argv[1:]]
    reps = 4
    extra = []
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    if "--extra" in args:
        i = args.index("--extra")
        extra = [q for q in args[i + 1].split(",") if q]
        del args[i:i + 2]
    prev_path = None
    if "--prev" in args:
        i = args.index("--prev")
        prev_path = args[i + 1]
        del args[i:i + 2]
    if len(args) != 2:
        print(__doc__)
        return 2
    bench_path, out_path = args
    with open(bench_path) as f:
        bench = json.load(f)
    queries = {k: float(v) for k, v in bench.get("queries", {}).items()}
    foreign = {k: float(v) for k, v in bench.get("queries_foreign_cpu", {}).items()}
    passes = int(bench.get("passes", 3))
    cores = os.cpu_count() or 32
    sf = bench.get("sf", "/root/testdata/sf0.1")

    flagged = list(bench.get("queries_contaminated", []))
    # re-derive the per-query gate from the recorded fields so older
    # bench.json files (no queries_contaminated) still adjudicate
    for q, f_cs in foreign.items():
        wall = queries.get(q, 0.0) * passes  # approx: median x passes
        if q not in flagged and f_cs > 10.0 and f_cs > 0.5 * wall * cores:
            flagged.append(q)
    for q in extra:
        if q not in flagged:
            flagged.append(q)
    movers = {}
    if prev_path:
        with open(prev_path) as f:
            prev = {k: float(v)
                    for k, v in json.load(f).get("queries", {}).items()}
        for q, cur in queries.items():
            p = prev.get(q)
            if p is None or p <= 0 or cur <= 0:
                continue
            if cur > 2.0 * p or p > 2.0 * cur:
                movers[q] = p
                if q not in flagged:
                    flagged.append(q)
    if not flagged:
        print("[adjudicate] nothing to adjudicate (no contaminated queries)")
        with open(out_path, "w") as f:
            json.dump({}, f)
        return 0

    print(f"[adjudicate] {len(flagged)} queries: {', '.join(flagged)}")
    rows = {}
    with tempfile.NamedTemporaryFile(suffix=".jsonl", delete=False) as tf:
        tmp = tf.name
    for q in flagged:
        cmd = ["sbt", "-batch",
               f"runMain graft.RunOne {q} {sf} --reps {reps} --json {tmp}"]
        print(f"[adjudicate] {' '.join(cmd)}")
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            # sbt/JVM errors land on stderr; keep both tails (ADVICE r17)
            rows[q] = {"iso_mid": None, "resolved": False, "failed": True,
                       "note": ("RunOne failed: "
                                + r.stdout[-200:].replace("\n", " ")
                                + " | stderr: "
                                + r.stderr[-300:].replace("\n", " "))}
    with open(tmp) as f:
        for line in f:
            row = json.loads(line)
            q = row["query"]
            # a partially-written --json row from a FAILED run must not
            # overwrite the recorded failure note (ADVICE r17)
            if rows.get(q, {}).get("failed"):
                continue
            bench_med = queries.get(q)
            iso = row["iso_mid"]
            if q in movers and q not in bench.get("queries_contaminated", []):
                prev_med = movers[q]
                improved = bench_med < prev_med
                if improved:
                    resolved = iso <= 0.67 * prev_med
                    verdict_note = (
                        "Isolation confirms the improvement (iso well under "
                        "the previous round's median)." if resolved else
                        "iso does NOT confirm the improvement - inspect.")
                else:
                    resolved = iso <= max(1.5 * prev_med, prev_med + 0.5)
                    verdict_note = (
                        "Isolated steady state sits near the previous "
                        "round's median (+0.5s fresh-JVM floor allowance) - "
                        "the upward move was window noise." if resolved else
                        "iso does NOT sit near the previous median - treat "
                        "as a real change and inspect the plan.")
                rows[q] = {
                    "iso_mid": iso,
                    "resolved": bool(resolved),
                    "note": (
                        f"auto-adjudicated round-over-round mover "
                        f"(tools/adjudicate.py --prev): median moved "
                        f"{prev_med} -> {bench_med} s (>2x, "
                        f"{'improvement' if improved else 'regression'}) "
                        f"with foreign-CPU gate silent; isolated RunOne reps "
                        f"{row['reps']} s, warm lower-median {iso} s. "
                        + verdict_note),
                }
                continue
            resolved = bench_med is not None and iso <= 0.67 * bench_med
            rows[q] = {
                "iso_mid": iso,
                "resolved": bool(resolved),
                "note": (
                    f"auto-adjudicated (tools/adjudicate.py): bench median "
                    f"{bench_med} s with {foreign.get(q, 0.0)} foreign core-s "
                    f"recorded across its passes; isolated RunOne reps "
                    f"{row['reps']} s (per-rep foreign {row['foreign_cpu']} "
                    f"core-s), warm lower-median {iso} s. "
                    + ("Bench number was burst inflation; iso steady state "
                       "stands." if resolved else
                       "iso does NOT clear the 0.67x gate - treat as a real "
                       "change and inspect the plan.")),
            }
    os.unlink(tmp)
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    print(f"[adjudicate] wrote {len(rows)} rows to {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
