#!/usr/bin/env python3
"""Repeat the benchmark and judge its steadiness, the trace and the
exact counters.

    python3 perfbench/validate.py spread  --seeds 1-10 [--sets 2] [--workloads a,b] [--trace]
    python3 perfbench/validate.py repeat  --seed 7 [--workloads a,b]
    python3 perfbench/validate.py shares  --seeds 1-3 [--workloads a,b,c]

``spread`` runs each workload once per seed (one subprocess per run, in
sequence) and prints, per metric, the median, the quartiles and the
interquartile range as a share of the median next to the metric's bound
from ``BENCHMARK.json`` (the steadiness rule: spread below a third of
the bound); with ``--sets 2`` it repeats the seeds as a second set and
prints how much worse each metric's median got against its bound.
``repeat`` runs one seed twice with tracing on and checks
that the exact counters (files, bytes, buckets, manifest reads, jobs,
stages, tasks per batch) repeat for every batch both runs applied.
``shares`` runs traced and untraced seeds and prints the layer shares
the workload design predicts, as traced self times over the untraced
median batch latency (the base is printed), plus the tracing overhead.  Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Counters that must repeat exactly for the same seed.  Spark job,
# stage and task counts come from an AQE-enabled session; they are
# checked too, and a mismatch there is reported as AQE-dependent.
EXACT = ("lake.files_written", "lake.bytes_written", "lake.buckets_rewritten",
         "lake.live_files", "lake.manifest_bytes", "lake.manifest_reads",
         "flatten.rows_in", "flatten.rows_out", "merge.rows_out")
AQE = ("consumer.spark_jobs", "consumer.stages", "consumer.tasks")


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    report = json.loads(lines[-2].split(": ", 1)[1])
    return report, json.loads(lines[-1])


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_spread(args, cfg) -> int:
    metrics = {m["name"]: m for m in cfg["end_to_end"]}
    ok = True
    for wl in args.workloads:
        sets: list[dict[str, list[float]]] = []
        for n in range(args.sets):
            vals: dict[str, list[float]] = {}
            for s in seeds(args.seeds):
                report, res = run_once(wl, s, args.seconds, int(args.trace))
                print(f"# {wl} set={n + 1} seed={s} correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} oracle={report['oracle']} "
                      f"steady={report['steady_batches']} "
                      f"lat={[round(x, 2) for x in report['batch_latencies_s']]} "
                      f"phases={ {k: round(v, 1) for k, v in report['phases_s'].items()} }",
                      flush=True)
                ok &= res["correct"]
                for k, v in res["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
            sets.append(vals)
            for k, vs in vals.items():
                med, q1, q3, iqr = spread(vs)
                b = metrics.get(k, {}).get("bound")
                flag = "" if b is None else (
                    "ok" if iqr < b / 3 else ("within-bound" if iqr <= b else "TOO-WIDE"))
                print(f"{wl:18s} set {n + 1} {k:24s} median={med:.6g} q1={q1:.6g} "
                      f"q3={q3:.6g} iqr/median={iqr:.3f} bound={b} {flag}")
                print(json.dumps({"workload": wl, "set": n + 1, "metric": k, "values": vs}))
        # every later set against the first: how much worse its median is
        for n, vals in enumerate(sets[1:], 2):
            for k, vs in vals.items():
                m = metrics.get(k)
                if m is None:
                    continue
                a, c = statistics.median(sets[0][k]), statistics.median(vs)
                worse = (c - a) / a if m["better"] == "lower" else (a - c) / a
                flag = "ok" if worse <= m["bound"] else "WORSE-THAN-BOUND"
                ok &= worse <= m["bound"]
                print(f"{wl:18s} set {n} vs 1 {k:24s} median {c:.6g} vs {a:.6g}: "
                      f"worse by {worse:+.3f} (bound {m['bound']}) {flag}")
    return 0 if ok else 1


def cmd_repeat(args, cfg) -> int:
    bad = 0
    for wl in args.workloads:
        runs = [run_once(wl, args.seed, args.seconds, 1)[0] for _ in range(2)]
        common = sorted(set(runs[0]["layers"]) & set(runs[1]["layers"]), key=int)
        for b in common:
            a, c = runs[0]["layers"][b], runs[1]["layers"][b]
            for k in EXACT + AQE:
                if a.get(k) != c.get(k):
                    kind = "AQE-dependent" if k in AQE else "EXACT COUNTER DIFFERS"
                    print(f"{wl} batch {b} {k}: {a.get(k)} != {c.get(k)} ({kind})")
                    bad += k not in AQE
        print(f"{wl}: compared {len(common)} batches x {len(EXACT + AQE)} counters")
    return 1 if bad else 0


SHARES = {
    "read+extract": ("sources.read_s", "extract.self_s"),
    "gap+commit": ("consumer.driver_gap_s", "lake.commit_s"),
    "flatten+merge+write": ("flatten.self_s", "merge.self_s", "lake.write_s"),
}


def cmd_shares(args, cfg) -> int:
    for wl in args.workloads:
        traced, plain = [], []
        for s in seeds(args.seeds):
            traced.append(run_once(wl, s, args.seconds, 1))
            plain.append(run_once(wl, s, args.seconds, 0))
        steady = [m for rep, _ in traced for b, m in rep["layers"].items()
                  if int(b) >= rep["warmup_batches"]]
        base = statistics.median(res["metrics"]["batch_latency_p50_s"]["value"]
                                 for _, res in plain)
        traced_net = statistics.median(
            m["trace.batch_wall_s"] - m["trace.probe_s"] for m in steady)
        print(f"{wl}: base = untraced batch_latency_p50_s median {base:.3f} s "
              f"({len(plain)} runs); layer self times are medians over "
              f"{len(steady)} traced steady batches (traced batch wall minus "
              f"probe time: {traced_net:.3f} s)")
        for name, keys in SHARES.items():
            part = statistics.median(sum(m[k] for k in keys) for m in steady)
            print(f"  {name:22s} {part:8.3f} s = {part / base:6.1%} of {base:.3f} s")
        for k in ("apply_events_per_s", "batch_latency_p50_s", "changelog_read_p50_s",
                  "live_mem_mb", "setup_s"):
            t = statistics.median(rep["end_to_end"][k] for rep, _ in traced)
            p = statistics.median(res["metrics"][k]["value"] for _, res in plain)
            print(f"  tracing overhead {k:24s} traced={t:.4g} untraced={p:.4g} "
                  f"diff={t - p:+.4g} ({(t - p) / p:+.1%})")
    return 0


def main() -> int:
    cfg = bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("spread", "repeat", "shares"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--sets", type=int, default=1,
                    help="spread: repeat the seeds this many times and compare medians")
    args = ap.parse_args()
    args.workloads = args.workloads.split(",")
    return {"spread": cmd_spread, "repeat": cmd_repeat, "shares": cmd_shares}[args.mode](args, cfg)


if __name__ == "__main__":
    sys.exit(main())
