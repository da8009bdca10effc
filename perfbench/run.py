#!/usr/bin/env python3
"""graft's benchmark: three workloads, end-to-end metrics, and a traced
per-layer breakdown.

    python3 perfbench/run.py --workload laygo_chain --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/layers.json):
  laygo_chain    a seeded generated parquet table through laygo's shapes
  curation       knn_recall_curve and span_corrupt over the committed sf0.01 tables
  stream_replay  stream_sessionize over a x10 replica of the sf0.01 events

A run builds graft and the harness once per source tree (sbt, offline),
writes its inputs from the seed, runs one fresh JVM (set-up, a cold
pass, a fixed number of warm passes), checks the outputs against
DuckDB, and prints the metrics. The last stdout line is the result
JSON; with --trace 0 it carries the end-to-end metrics, with --trace 1
the per-layer ones. Everything it writes stays under .bench_build/.

The warm pass count and the later passes counted for pass_s are fixed
per workload in perfbench/layers.json, sized so the warm passes last
about BENCHMARK.json's run_seconds on four cores. --seconds is recorded
but does not change the count: a time budget would measure a faster
program at later, more JIT-compiled passes than a slower one.
"""
import fnmatch
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
LAYERS = json.loads((BENCH / "layers.json").read_text())

# tables the query workloads read, copied from the committed sf0.01 set
COPIED = ["documents", "embeddings", "events"]
# the oracle checker opens a view on every testdata table; the queries
# benchmarked here read none of these, so they are empty placeholders
PLACEHOLDERS = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
LAYGO_ROWS = LAYERS["workloads"]["laygo_chain"]["rows"]
LAYGO_FILES = 8
LAYGO_KEYS = 1000
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_fingerprint() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile graft (by its own build file) and the harness; return the
    runtime classpath. Skipped when the sources are unchanged."""
    stamp, cp_file = WORK / "build.sha256", WORK / "classpath.txt"
    fp = source_fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's scratch files (socket dirs, native-library copies) go under
    # .bench_build rather than the system temp dir
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log("building graft and the harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (rc {p.returncode})")
    WORK.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


# ---- inputs ----------------------------------------------------------------

def make_inputs(workload: str, seed: int, d: Path) -> int:
    """Write the workload's inputs from the seed; return the input rows."""
    d.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    if workload == "laygo_chain":
        (d / "laygo").mkdir()
        per = LAYGO_ROWS // LAYGO_FILES
        for i in range(LAYGO_FILES):
            pq.write_table(pa.table({
                "x": rng.integers(0, 2**31, per, dtype=np.int64),
                "k": rng.integers(0, LAYGO_KEYS, per, dtype=np.int32)}),
                d / "laygo" / f"part-{i:05d}.parquet")
        return per * LAYGO_FILES
    rows = 0
    for t in COPIED:
        # the seed sets row order and row-group split; the multiset of
        # rows, and so every oracle answer, is the same for every seed
        tbl = pq.read_table(BENCH / "tables" / f"{t}.parquet")
        if t == "events":
            tbl = replicate_events(tbl, LAYERS["workloads"][workload].get("events_copies", 1))
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        group = int(rng.integers(max(1, tbl.num_rows // 4), tbl.num_rows + 1))
        pq.write_table(tbl, d / f"{t}.parquet", row_group_size=group)
        if t in LAYERS["workloads"][workload]["tables"]:
            rows += tbl.num_rows
    for t in PLACEHOLDERS:
        pq.write_table(pa.table({"unused": pa.array([], pa.int32())}), d / f"{t}.parquet")
    return rows


def replicate_events(tbl: pa.Table, copies: int) -> pa.Table:
    """graft.DataGen's rule for events: copy c shifts event_id and user_id
    by c * 10^7 and keeps the time range, so windows get denser."""
    parts = []
    for c in range(copies):
        part = tbl
        for k in ("event_id", "user_id"):
            i = part.schema.get_field_index(k)
            part = part.set_column(i, k, pa.compute.add(part[k], c * 10_000_000))
        parts.append(part)
    return pa.concat_tables(parts)


# ---- the JVM harness -------------------------------------------------------

def harness(cp: str, args: list, deadline: float) -> None:
    cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={args[args.index('--out') + 1]}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Harness", *args,
           "--launch-us", str(time.time_ns() // 1000)]
    # the JVM's stdout goes to stderr: the result line must be the last
    # line of this process's stdout
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=max(5.0, deadline - time.time()))


# ---- correctness gate ------------------------------------------------------

def check_queries(input_dir: Path, out: Path, oracle_sql: dict) -> dict:
    """Compare each query's output with its oracle SQL run by DuckDB,
    by the rules of tools/check_correctness.py. Returns name -> ok."""
    spec = importlib.util.spec_from_file_location("check_correctness",
                                                  ROOT / "tools" / "check_correctness.py")
    checker = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(checker)
    (out / "oracle_sql.json").write_text(json.dumps(oracle_sql))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        checker.main(str(input_dir), str(out))
    lines = buf.getvalue().splitlines()
    for l in lines:
        if l.startswith("FAIL") or l.startswith("   row"):
            log("gate:", l)
    return {q: any(l.startswith(f"ok   {q} (") for l in lines) for q in oracle_sql}


def laygo_expected(input_dir: Path, first: list) -> dict:
    """The laygo_chain answers, computed by DuckDB from the parquet."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{input_dir}/laygo/*.parquet')")
    chain = list(con.execute(
        "SELECT count(*), sum(x * 2 + 1) FROM t WHERE x % 2 = 0 AND x * 2 > 100").fetchone())
    per_key = [list(r) for r in con.execute(
        "SELECT k, count(*), sum(x) FROM t WHERE k % 7 <> 0 GROUP BY k ORDER BY k").fetchall()]
    rows = con.execute("SELECT count(*) FROM t").fetchone()[0]
    # first(n) may return any n chain outputs: each must be 2x+1 of an
    # even x of the table with 2x > 100
    pre = [(v - 1) // 2 for v in first if v % 4 == 1 and v > 101]
    found = con.execute("SELECT count(*) FROM unnest(?::BIGINT[]) u(x) "
                        "WHERE x IN (SELECT x FROM t)", [pre]).fetchone()[0] if pre else 0
    return {"chain": [int(v) for v in chain], "per_key": per_key, "rows": rows,
            "first_ok": len(first) == 100 and found == len(first)}


def check_laygo(gate: dict, want: dict) -> dict:
    """Call name -> ok, for the outputs the harness left in `gate`."""
    tap = gate.get("tap_catch_reduce", {})
    got_keys = sorted([int(v) for v in r] for r in tap.get("per_key", []))
    return {
        "chain_transformer": gate.get("chain_transformer") == want["chain"],
        "chain_typed": gate.get("chain_typed") == want["chain"],
        "tap_catch_reduce": got_keys == want["per_key"] and tap.get("tap_rows") == want["rows"],
        "first_n": want["first_ok"],
    }


def check(workload: str, res: dict, input_dir: Path, out: Path) -> dict:
    """Call name -> whether its output passed the correctness gate."""
    if workload == "laygo_chain":
        return check_laygo(res["gate"], laygo_expected(input_dir, res["gate"].get("first_n", [])))
    ok = check_queries(input_dir, out / "results", res["gate"].get("oracle_sql", {}))
    return {q: ok.get(q, False) for q in res["calls"]}


def failed_calls(res: dict, ok: dict) -> set:
    """Calls that threw in any pass or whose output failed the gate."""
    return set(res["failed_calls"]) | {q for q, good in ok.items() if not good}


# ---- result ----------------------------------------------------------------

def metric_units() -> dict:
    return {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def steady(passes: list, workload: str) -> list:
    """The warm passes counted for pass_s: the workload's fixed number of
    later ones. The JIT is still compiling hot paths during the first
    warm passes, so their times drift down."""
    return passes[-LAYERS["workloads"][workload]["counted_passes"]:]


def end_to_end(res: dict, workload: str, input_rows: int) -> dict:
    pass_s = statistics.median(steady(res["pass_s"], workload))
    return {
        "start_s": res["start_s"],
        "setup_s": statistics.median(res["setup_s"]),
        "cold_pass_s": res["cold_pass_s"],
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s,
        "heap_after_gc_mb": res["heap_after_gc_mb"],
    }


def canary_stamp(res: dict) -> dict:
    c = LAYERS["canary"]
    factor = statistics.median(res["canary_s"]) / c["reference_s"]
    foreign = res["foreign_cpu_share"]
    return {"machine_factor": factor, "foreign_cpu_share": foreign,
            "contaminated": not (c["factor_min"] <= factor <= c["factor_max"])
            or foreign > c["foreign_share_max"]}


def deterministic(per_layer: dict) -> dict:
    """The per-layer counters that repeat exactly for one seed and one
    program (layers.json's deterministic_counters): a move in any of
    them is a plan-shape change whatever the wall clock says."""
    pats = LAYERS["deterministic_counters"]
    return {k: v for k, v in per_layer.items() if any(fnmatch.fnmatchcase(k, p) for p in pats)}


def finish_trace(trace_path: Path, res: dict, workload: str, seed: int) -> None:
    """Adds the deterministic counters and the tracing overhead: traced
    pass_s against the latest untraced run of the same workload in this
    checkout (same seed when there is one)."""
    untraced = []
    for p in (WORK / "runs").glob(f"{workload}-*-t0.json"):
        r = json.loads(p.read_text())
        untraced.append((r.get("seed") == seed, p.stat().st_mtime, r["metrics"]["pass_s"]["value"]))
    trace = json.loads(trace_path.read_text())
    trace["deterministic"] = deterministic(res["per_layer"])
    traced = statistics.median(steady(res["pass_s"], workload))
    trace["overhead"] = {"traced_pass_s": traced}
    if untraced:
        base = max(untraced)[2]
        trace["overhead"].update(untraced_pass_s=base, ratio=traced / base)
    trace_path.write_text(json.dumps(trace))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()

    if SPEC is None or not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        log("no graft source tree next to the benchmark; run from a full checkout")
        return 2
    if a.workload not in LAYERS["workloads"]:
        log(f"unknown workload {a.workload}")
        return 2

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_id = f"{a.workload}-{a.seed}-t{a.trace}-{time.time_ns()}"
    work = WORK / "work" / run_id
    try:
        input_dir, out = work / "input", work / "out"
        input_rows = make_inputs(a.workload, a.seed, input_dir)
        out.mkdir(parents=True)
        log(f"inputs written at {time.time() - t_start:.1f}s")
        spec = LAYERS["workloads"][a.workload]
        harness(cp, ["--workload", a.workload, "--input", str(input_dir), "--out", str(out),
                     "--warm-passes", str(spec["warm_passes"]),
                     "--counted", str(spec["counted_passes"]),
                     "--trace", str(a.trace), "--run-id", run_id],
                deadline)
        res = json.loads((out / "result.json").read_text())
        log(f"harness done at {time.time() - t_start:.1f}s")
        failed = failed_calls(res, check(a.workload, res, input_dir, out))
        log(f"gate done at {time.time() - t_start:.1f}s")
        for q, e in res["errors"].items():
            log(f"error in {q}: {e}")

        e2e = end_to_end(res, a.workload, input_rows)
        stamp = canary_stamp(res)
        units = metric_units()
        if a.trace:
            names = [m["name"] for m in SPEC["per_layer"]]
            values = {n: res["per_layer"].get(n, 0.0) for n in names}
            trace_path = WORK / "runs" / f"{run_id}.trace.json"
            trace_path.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "trace.json", trace_path)
            finish_trace(trace_path, res, a.workload, a.seed)
            log(f"trace written to {trace_path.relative_to(ROOT)}")
        else:
            values = e2e
        metrics = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
        result = {"correct": not failed, "attempted": res["attempted"], "failed": len(failed),
                  "metrics": metrics}
        record = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds, run_id=run_id,
                      input_rows=input_rows, setup_samples_s=res["setup_s"],
                      pass_samples_s=res["pass_s"],
                      failed_calls=sorted(failed), errors=res["errors"], call_s=res["call_s"],
                      **stamp)
        if a.trace:
            record.update(self_time_s=res["self_time_s"], deterministic=deterministic(res["per_layer"]))
        (WORK / "runs").mkdir(parents=True, exist_ok=True)
        (WORK / "runs" / f"{run_id}.json").write_text(json.dumps(record, indent=1))
        # one run record per workload/seed/trace, newest wins
        latest = WORK / "runs" / f"{a.workload}-{a.seed}-t{a.trace}.json"
        latest.write_text(json.dumps(record, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    q = steady(res["pass_s"], a.workload)
    print(f"workload {a.workload}  seed {a.seed}  input rows {input_rows}  warm passes "
          f"{len(res['pass_s'])} ({len(q)} counted)  wall {time.time() - t_start:.1f}s")
    for n, m in metrics.items():
        print(f"  {n:28s} {m['value']:.6g} {m['unit']}")
    qs = statistics.quantiles(q, n=4, method="inclusive")
    print(f"  pass_s quartiles {qs[0]:.4f} .. {qs[2]:.4f} over {len(q)} counted passes")
    print(f"  failed_ops {len(failed)}/{res['attempted']} calls"
          + (f" ({', '.join(sorted(failed))})" if failed else ""))
    print(f"  machine_factor {stamp['machine_factor']:.3f}  foreign_cpu_share "
          f"{stamp['foreign_cpu_share']:.3f}  contaminated {str(stamp['contaminated']).lower()}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
