"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here works from OUTSIDE the engine: it wraps the public
functions and methods the layers expose (plus the driver's feed-write
hook and the lake's data-file and snapshot writers) by replacing the
module attributes for the duration of the run.  No span lives inside
the program.

- Spans carry name, start, end, parent span and the batch index shared
  by every span of one batch; they are kept in memory and written out
  when the run ends (``.bench_work/trace-<workload>-<seed>.json``).
- Flatten, extract and merge are lazy, so the wrappers force cumulative
  prefixes of the same batch to Spark's ``noop`` sink at the point the
  consumer calls them, in the order read, read+flatten, +extract,
  +merge (each forced with an Observation counting its rows).  A
  layer's self time is the difference between successive prefixes.
  Probe jobs are tagged with a local property so the Spark event log
  can tell them apart from the engine's own jobs.
- After the run the Spark event log is parsed (jobs, stages, tasks,
  executor CPU, shuffle and spill bytes) and attributed to batches by
  time window — the loop is sequential, so windows never overlap.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

PROBE_PROP = "perfbench.probe"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.batch: int | None = None
        self.probing = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # ----------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, probe: bool = False, **attrs):
        st = self._stack()
        sp = {
            "id": next(self._ids), "name": name, "batch": self.batch,
            "parent": st[-1]["id"] if st else None, "probe": probe,
            "start": time.time(), **attrs,
        }
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            sp["end"] = time.time()
            with self._lock:
                self.spans.append(sp)

    def force(self, name: str, df) -> None:
        """Run ``df`` to the noop sink as a tagged probe span that
        records its row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if not self.probing:
            return  # warm-up batches are not probed
        sc = df.sparkSession.sparkContext
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        sc.setLocalProperty(PROBE_PROP, name)
        try:
            with self.span(name, probe=True) as sp:
                observed.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty(PROBE_PROP, None)
        sp["rows"] = obs.get["n"]

    # -------------------------------------------------------- wrappers

    def _patch(self, owner, attr: str, make) -> None:
        real = getattr(owner, attr)
        setattr(owner, attr, make(real))
        self._undo.append((owner, attr, real))

    def _spanned(self, name: str):
        tracer = self

        def make(real):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return real(*a, **kw)
            return wrapper
        return make

    def install(self, consumer) -> None:
        """Wrap every layer boundary the traced metrics need."""
        from bigquery_delta_plugins_spark.lake.table import LakeTable
        from bigquery_delta_plugins_spark.streaming import consumer as consumer_mod
        from bigquery_delta_plugins_spark.streaming import driver as driver_mod
        from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer

        tracer = self
        local = self._local

        def flatten(real):
            def wrapper(staged, *a, **kw):
                tracer.force("sources.read", staged)
                out = real(staged, *a, **kw)
                tracer.force("flatten", out)
                local.stash = out if tracer.probing else None
                return out
            return wrapper

        def transform(real):
            def wrapper(df):
                out = real(df)
                if getattr(local, "stash", None) is not None:
                    tracer.force("extract", out)
                    local.stash = out
                return out
            return wrapper

        def merge(real):
            def wrapper(target, diff, *a, **kw):
                stash, local.stash = getattr(local, "stash", None), None
                if stash is not None:
                    # A cached diff would let the merge prefix skip
                    # flatten+extract; drop it for the probe and re-mark
                    # it, so the engine's write recomputes the prefix as
                    # the single-job path always does.
                    cached = diff.is_cached
                    if cached:
                        diff.unpersist(blocking=True)
                    tracer.force("merge.target", target)
                    tracer.force("merge", real(target, stash, *a, **kw))
                    if cached:
                        diff.persist()
                return real(target, diff, *a, **kw)
            return wrapper

        self._patch(consumer_mod, "flatten_batch", flatten)
        self._patch(consumer_mod, "merge_apply", merge)
        if consumer.row_transform is not None:
            self._patch(consumer, "row_transform", transform)
        self._patch(EventConsumer, "apply_batch", self._spanned("consumer.apply_batch"))
        # every data-file write (overwrite_buckets, append, the single-job
        # path) goes through _write_data_files; every commit through
        # _write_snapshot
        self._patch(LakeTable, "_write_data_files", self._spanned("lake.write"))
        self._patch(LakeTable, "_write_snapshot", self._spanned("lake.commit"))
        for meth in ("current_snapshot", "snapshot"):
            self._patch(LakeTable, meth, self._spanned("lake.manifest_read"))
        self._patch(driver_mod, "_write_changes_feed", self._spanned("driver.feed_write"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, real = self._undo.pop()
            setattr(owner, attr, real)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# ------------------------------------------------------------ event log


def parse_event_log(log_dir: str) -> list[dict]:
    """Stages of the run: submit/complete (epoch s), task count, executor
    CPU s, shuffle bytes written, disk spill bytes, and whether every job
    that ran the stage was a benchmark probe."""
    paths = []
    for root, _dirs, names in os.walk(log_dir):
        paths += [os.path.join(root, n) for n in names if not n.startswith(".")]
    job_probe: dict[int, bool] = {}
    stage_jobs: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    for p in sorted(paths):
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job_probe[e["Job ID"]] = bool(props.get(PROBE_PROP))
                    for sid in e.get("Stage IDs", []):
                        stage_jobs.setdefault(sid, []).append(e["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["submit"] = si.get("Submission Time", 0) / 1000
                    st["complete"] = si.get("Completion Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    tm = e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    out = []
    for sid, st in stages.items():
        if st["submit"] is None:
            continue
        jobs = stage_jobs.get(sid, [])
        st["probe"] = bool(jobs) and all(job_probe.get(j, False) for j in jobs)
        st["jobs"] = jobs
        st["id"] = sid
        out.append(st)
    return out


def _new_stage() -> dict:
    return {"submit": None, "complete": None, "tasks": 0, "cpu_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ------------------------------------------------------- layer metrics


def batch_layers(spans: list[dict], stages: list[dict], windows: dict[int, tuple]) -> dict:
    """Per-batch layer measurements: ``{batch: {metric: value}}``."""
    by_batch: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["batch"] is not None:
            by_batch.setdefault(sp["batch"], []).append(sp)
    out = {}
    for b, (lo, hi) in windows.items():
        sps = by_batch.get(b, [])
        byid = {s["id"]: s for s in sps}
        kids: dict[int, dict[str, dict]] = {}
        for s in sps:
            if s["probe"] and s["parent"] is not None:
                kids.setdefault(s["parent"], {})[s["name"]] = s
        m = dict.fromkeys((
            "sources.read_s", "sources.rows", "flatten.self_s", "flatten.rows_in",
            "flatten.rows_out", "extract.self_s", "extract.rows", "merge.self_s",
            "merge.target_rows_read", "merge.rows_out", "lake.write_s",
            "lake.commit_s", "lake.manifest_reads", "driver.feed_write_s",
        ), 0.0)
        dur = _dur
        for parent, p in kids.items():
            if "sources.read" not in p:
                continue
            read, flat = dur(p["sources.read"]), dur(p["flatten"])
            diff = dur(p["extract"]) if "extract" in p else flat
            m["sources.read_s"] += read
            m["sources.rows"] += p["sources.read"]["rows"]
            m["flatten.self_s"] += flat - read
            m["flatten.rows_in"] += p["sources.read"]["rows"]
            m["flatten.rows_out"] += p["flatten"]["rows"]
            if "extract" in p:
                m["extract.self_s"] += diff - flat
                m["extract.rows"] += p["extract"]["rows"]
            if "merge" in p:
                m["merge.self_s"] += dur(p["merge"]) - diff - dur(p["merge.target"])
                m["merge.target_rows_read"] += p["merge.target"]["rows"]
                m["merge.rows_out"] += p["merge"]["rows"]
        for s in sps:
            name = s["name"]
            if name == "lake.write":
                m["lake.write_s"] += max(0.0, dur(s) - _input_cost(s, byid, kids))
            elif name == "lake.commit":
                m["lake.commit_s"] += dur(s)
            elif name == "lake.manifest_read":
                m["lake.manifest_reads"] += 1
            elif name == "driver.feed_write":
                m["driver.feed_write_s"] += dur(s)
        probes = [(s["start"], s["end"]) for s in sps if s["probe"]]
        apply_wall = sum(dur(s) for s in sps if s["name"] == "consumer.apply_batch")
        m["consumer.apply_s"] = apply_wall - _union(probes)
        m["trace.probe_s"] = _union(probes)
        wall = hi - lo
        m["trace.batch_wall_s"] = wall
        m["driver.overhead_s"] = wall - apply_wall
        own = [st for st in stages if lo <= st["submit"] < hi and not st["probe"]]
        m["consumer.spark_jobs"] = len({j for st in own for j in st["jobs"]})
        m["consumer.stages"] = len(own)
        m["consumer.tasks"] = sum(st["tasks"] for st in own)
        m["consumer.task_cpu_s"] = sum(st["cpu_s"] for st in own)
        m["consumer.shuffle_bytes"] = sum(st["shuffle_bytes"] for st in own)
        m["consumer.spill_bytes"] = sum(st["spill_bytes"] for st in own)
        covered = _clip([(st["submit"], st["complete"]) for st in own] + probes, lo, hi)
        m["consumer.driver_gap_s"] = wall - _union(covered)
        out[b] = m
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _input_cost(write: dict, byid: dict, kids: dict) -> float:
    """Forced cost of computing the rows a data-file write consumes: the
    batch's read+flatten+extract+merge prefix (the traced run drops the
    diff cache before the write, so the write recomputes all of it)."""
    chain = byid.get(write["parent"])
    while chain is not None and chain["name"] != "consumer.apply_batch":
        chain = byid.get(chain["parent"])
    p = kids.get(chain["id"], {}) if chain is not None else {}
    return _dur(p["merge"]) if "merge" in p else 0.0
