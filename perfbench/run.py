#!/usr/bin/env python3
"""CDC apply benchmark — one workload per invocation.

    python3 perfbench/run.py --workload bulk_upsert --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.bench_work/inputs``; the engine runs on
``local[<cores - 1>]`` in this process.  The run applies the warm-up
batches, then drains the staged backlog (for at most ``--seconds`` of
loop wall time), reads back a few batches' changelogs, stops Spark and checks the
final lake state (and, for the change-feed workload, every batch's
changelog) against an independent replay of the events (``oracle.py``).
Input generation runs first, in a child process (``gen.py``), and is
not part of ``setup_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it
(``perfbench-report: {...}``) carries everything else: per-batch
samples, warm-up count and cost, exact counters, oracle verdict.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, ROOT)

from workloads import WORKLOADS, spark_cores  # noqa: E402


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def clear_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def live_memory(spark) -> dict:
    """Memory the run holds once the measured window closed, in MB: the
    JVM heap live after full collections, the JVM non-heap memory in
    use, and the driver Python process's VmHWM over the apply loop.
    Heap peaks before collection are not used: they follow the
    collector's timing more than the program's data (IQR/median 0.32
    over five seeds)."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Dead Python DataFrames pin their JVM objects until Python collects
    # them, and Spark's ContextCleaner frees broadcasts and shuffles
    # asynchronously after a JVM collection; a single System.gc() leaves
    # a timing-dependent part of that (75-150 MB between runs of one
    # workload).  Collect until two readings agree.
    heap = None
    for _ in range(6):
        gc.collect()
        jvm.java.lang.System.gc()
        prev, heap = heap, mx.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and abs(heap - prev) < 1:
            break
        time.sleep(0.3)
    out = {"jvm_heap_live": heap,
           "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
           "python": vm_hwm_mb()}
    out["total"] = sum(out.values())
    return out


def session(run_dir: str, event_log: str | None):
    from bigquery_delta_plugins_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import the package (Avro decode runs in mapInArrow)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # one core stays free for the driver process, the JIT compiler and
    # the garbage collector; with every core running tasks the runs
    # spread wider (METRICS.md, "Load model")
    n = spark_cores()
    conf = {
        "spark.driver.memory": "3g",
        # a pinned, pre-touched heap: no heap growth or first-touch page
        # faults inside the measured window (the repository's own
        # benchmark practice, bench.py)
        "spark.driver.extraJavaOptions":
            f"-Xms3g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if gateway.proc is not None:
        gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
        gateway.proc.wait(timeout=120)


def warm_up(spark, python_workers: bool) -> None:
    """JIT warm-up, plus a Python-worker start for workloads whose apply
    runs Python UDFs (Avro decode, extraction)."""
    spark.range(200_000).selectExpr("sum(id * 3)").collect()
    if python_workers:
        spark.range(1_000).mapInArrow(lambda it: it, "id long").count()


class Feeder:
    """Closed-loop batch source: hands the next staged batch to the
    driver loop when asked, which is right after the previous batch's
    checkpoint commit.  Warm-up batches go first; the measured window
    opens at the first steady batch and closes at the first hand-off
    request after ``seconds``."""

    def __init__(self, items: list, warmup: int, seconds: float, tracer=None):
        self.items = items
        self.warmup = warmup
        self.seconds = seconds
        self.tracer = tracer
        self.hand: list[float] = []
        self.done: list[float] = []
        self.deadline: float | None = None

    def _close(self, now: float) -> None:
        if len(self.done) < len(self.hand):
            self.done.append(now)

    def __iter__(self):
        for i, item in enumerate(self.items):
            now = time.time()
            self._close(now)
            if i == self.warmup:
                self.deadline = now + self.seconds
            if self.deadline is not None and now >= self.deadline:
                return
            self.hand.append(now)
            if self.tracer is not None:
                self.tracer.batch = i
                self.tracer.probing = i >= self.warmup
            yield item

    def finish(self) -> None:
        self._close(time.time())


def build(spark, wl: dict, inputs: dict, run_dir: str):
    """Consumer + bootstrap CREATE_TABLE + staged backlog + loop callable."""
    import gen
    from bigquery_delta_plugins_spark.sources.staging_io import read_staged_batches
    from bigquery_delta_plugins_spark.streaming import driver
    from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
    from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

    kw = dict(wl["consumer"])
    if wl["extract"]:
        from bigquery_delta_plugins_spark.functions.extract import extract_text_transform

        kw["row_transform"] = extract_text_transform
    consumer = EventConsumer(spark, os.path.join(run_dir, "wh"), **kw)
    consumer.apply_ddl(DDLEvent(DDLOp.CREATE_TABLE, "web", "pages",
                                schema=gen.source_schema(), primary_keys=["url"]))
    batches = read_staged_batches(spark, os.path.join(inputs["root"], "stage"),
                                  gen.stage_schema(), wl["gen"]["format"])
    cp = os.path.join(run_dir, "cp")
    feed = os.path.join(run_dir, "feed") if wl["feed"] else None

    def loop(feeder):
        return driver.run_microbatch_loop(consumer, feeder, "web", "pages", cp,
                                          changes_dir=feed)
    return consumer, batches, loop, feed


def manifest_counters(path: str) -> dict[int, dict]:
    """Exact per-batch lake counters from the table's manifests: files
    and bytes written, buckets rewritten, live files and manifest bytes
    after the batch."""
    mdir = os.path.join(path, "_manifests")
    out: dict[int, dict] = {}
    prev: set = set()
    for name in sorted(n for n in os.listdir(mdir) if n.startswith("snap-")):
        p = os.path.join(mdir, name)
        with open(p) as f:
            snap = json.load(f)
        new = [e for e in snap["files"] if e["path"] not in prev]
        prev = {e["path"] for e in snap["files"]}
        lb = snap["summary"].get("latest_batch_id", -1)
        if lb < 0:
            continue
        c = out.setdefault(lb, dict.fromkeys(
            ("files_written", "bytes_written", "buckets_rewritten"), 0))
        c["files_written"] += len(new)
        c["bytes_written"] += sum(os.path.getsize(os.path.join(path, e["path"])) for e in new)
        c["buckets_rewritten"] += len({e["bucket"] for e in new})
        c["live_files"] = len(snap["files"])
        c["manifest_bytes"] = os.path.getsize(p)
    return out


def force_count(df) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args(argv)
    try:
        import bigquery_delta_plugins_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import oracle

    wl = WORKLOADS[args.workload]
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), json.dumps(wl["gen"]),
         str(args.seed), os.path.join(WORK, "inputs")],
        check=True, capture_output=True, text=True,
    ).stdout
    inputs = json.loads(out.strip().splitlines()[-1])
    # write freshly staged inputs back now, not during the timed run
    os.sync()
    gen_s = time.time() - t

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    t_session = time.time()
    spark = session(run_dir, event_log)
    attempted = failed = 0
    errors: list[str] = []
    try:
        t_warm = time.time()
        warm_up(spark, wl["extract"] or wl["gen"]["format"] == "avro")
        t_build = time.time()
        consumer, items, loop, feed = build(spark, wl, inputs, run_dir)
        t_ready = time.time()
        setup_s = t_ready - t_proc - gen_s
        setup_phases = {"interpreter": t_session - t_proc - gen_s, "session": t_warm - t_session,
                        "warm_up": t_build - t_warm, "build": t_ready - t_build}
        if tracer is not None:
            tracer.install(consumer)
        warmup = wl["warmup_batches"]
        clear_peak_rss()
        feeder = Feeder(items, warmup, args.seconds, tracer)
        applies: list[dict] = []
        try:
            applies = loop(feeder)
            feeder.finish()
        except Exception:  # noqa: BLE001 — a failed apply is a counted failure
            failed += 1
            errors.append(traceback.format_exc())
        if tracer is not None:
            tracer.batch = None
        mem = live_memory(spark)
        applied = list(range(len(feeder.done)))
        attempted += len(feeder.hand)

        # a downstream reader's changelog reads of the first two steady
        # batches (the same batches on every run of a seed): one untimed
        # read warms the read path, then ``changelog_rounds`` timed
        # rounds over both
        steady = applied[warmup:]
        t_loop_end = time.time()
        reads = []
        lake = consumer.table("web", "pages")
        read_batches = (steady or applied)[:2]
        for i, b in enumerate(read_batches[:1] + read_batches * wl["changelog_rounds"]):
            attempted += 1
            t = time.time()
            try:
                rows = force_count(lake.changes_for_batch(b))
            except Exception:  # noqa: BLE001
                failed += 1
                errors.append(traceback.format_exc())
                continue
            reads.append({"batch": b, "s": time.time() - t, "rows": rows, "warm_up": i == 0})
        counters = manifest_counters(lake.path)
        table_path = lake.path
    finally:
        if tracer is not None:
            tracer.uninstall()
        t_stop = time.time()
        stop_spark(spark)

    # ---------------------------------------------------- correctness
    t_oracle = time.time()
    events = oracle.read_events(gen.events_dir(inputs["root"], wl["gen"]),
                                max(applied, default=-1))
    verdict = oracle.check(events, applied, table_path, wl["extract"], feed)
    attempted += 1
    if verdict["state"]:
        failed += 1
    bad_changes = {b: v for b, v in verdict["changes"].items() if v}
    failed += len(bad_changes)
    correct = failed == 0

    # ---------------------------------------------------- metrics
    ev = inputs["batch_events"]
    lat = [d - h for h, d in zip(feeder.hand, feeder.done)]
    s_lat = lat[warmup:]
    loop_wall = (feeder.done[-1] - feeder.hand[warmup]) if s_lat else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (
            sum(ev[b] for b in steady) / loop_wall if loop_wall else 0.0, "events/s"),
        "batch_latency_p50_s": (median(s_lat), "s"),
        "changelog_read_p50_s": (median([r["s"] for r in reads if not r["warm_up"]]), "s"),
        "live_mem_mb": (mem["total"], "MB"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_key": inputs["key"], "input_cached": inputs["cached"],
        "phases_s": {"gen": gen_s, "setup": setup_s, "loop": t_loop_end - t_ready,
                     "reads": t_stop - t_loop_end, "stop": t_oracle - t_stop,
                     "oracle": time.time() - t_oracle, "total": time.time() - t_proc},
        "setup_phases_s": setup_phases,
        "warmup_batches": warmup,
        "warmup_s": sum(lat[:warmup]),
        "steady_batches": len(s_lat), "batch_latencies_s": lat,
        "failed_frac": failed / attempted if attempted else 0.0,
        "changelog_reads": reads, "live_memory_mb": mem,
        "apply_phases": [(m["batch_id"], m.get("phases")) for m in applies],
        "oracle": "MATCH" if not verdict["state"] and not bad_changes else "MISMATCH",
        "state_mismatches": verdict["state"][:20],
        "changelog_mismatches": {b: v[:5] for b, v in bad_changes.items()},
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "counters": {b: counters.get(b, {}) for b in applied},
        "errors": [e[-2000:] for e in errors],
    }
    if tracer is not None:
        import tracing as tr

        layers = tr.batch_layers(
            tracer.spans, tr.parse_event_log(event_log),
            {b: (feeder.hand[b], feeder.done[b]) for b in applied},
        )
        for b in applied:
            layers[b].update({f"lake.{k}": v for k, v in counters.get(b, {}).items()})
            layers[b]["events"] = ev[b]
            layers[b]["staged_bytes"] = sum(
                os.path.getsize(os.path.join(r, n))
                for r, _d, ns in os.walk(os.path.join(inputs["root"], "stage", f"_batch_id={b}"))
                for n in ns
            )
        report["layers"] = {b: layers[b] for b in applied}
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics([layers[b] for b in steady], reads)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-report: " + json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_metrics(steady: list[dict], reads: list[dict]) -> dict:
    """Median over steady batches of each per-layer measurement."""
    def med(key):
        return median([m[key] for m in steady])

    def ratio(num, den):
        return median([m[num] / m[den] for m in steady if m[den]])

    timed = [r for r in reads if not r["warm_up"]]

    out = {
        "sources.read_s": (med("sources.read_s"), "s"),
        "sources.rows_per_s": (ratio("sources.rows", "sources.read_s"), "rows/s"),
        "sources.staged_bytes_per_event": (ratio("staged_bytes", "events"), "B"),
        "flatten.self_s": (med("flatten.self_s"), "s"),
        "flatten.rows_in": (med("flatten.rows_in"), "rows"),
        "flatten.rows_out": (med("flatten.rows_out"), "rows"),
        "flatten.collapse_ratio": (ratio("flatten.rows_out", "flatten.rows_in"), "ratio"),
        "extract.self_s": (med("extract.self_s"), "s"),
        "extract.rows": (med("extract.rows"), "rows"),
        "merge.self_s": (med("merge.self_s"), "s"),
        "merge.target_rows_read": (med("merge.target_rows_read"), "rows"),
        "merge.rows_out": (med("merge.rows_out"), "rows"),
        "lake.write_s": (med("lake.write_s"), "s"),
        "lake.files_written_per_batch": (med("lake.files_written"), "count"),
        "lake.bytes_written_per_event": (ratio("lake.bytes_written", "events"), "B"),
        "lake.buckets_rewritten_per_batch": (med("lake.buckets_rewritten"), "count"),
        "lake.live_files": (med("lake.live_files"), "count"),
        "lake.commit_s": (med("lake.commit_s"), "s"),
        "lake.manifest_reads_per_batch": (med("lake.manifest_reads"), "count"),
        "lake.manifest_bytes": (med("lake.manifest_bytes"), "B"),
        "lake.changes_s": (median([r["s"] for r in timed]), "s"),
        "lake.changes_rows": (median([r["rows"] for r in timed]), "rows"),
        "consumer.apply_s": (med("consumer.apply_s"), "s"),
        "consumer.spark_jobs_per_batch": (med("consumer.spark_jobs"), "count"),
        "consumer.stages_per_batch": (med("consumer.stages"), "count"),
        "consumer.tasks_per_batch": (med("consumer.tasks"), "count"),
        "consumer.task_cpu_s_per_batch": (med("consumer.task_cpu_s"), "s"),
        "consumer.shuffle_bytes_per_batch": (med("consumer.shuffle_bytes"), "B"),
        "consumer.spill_bytes_per_batch": (med("consumer.spill_bytes"), "B"),
        "consumer.driver_gap_s": (med("consumer.driver_gap_s"), "s"),
        "driver.overhead_s": (med("driver.overhead_s"), "s"),
        "driver.feed_write_s": (med("driver.feed_write_s"), "s"),
        "trace.batch_wall_s": (med("trace.batch_wall_s"), "s"),
        "trace.probe_s": (med("trace.probe_s"), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
