"""Seeded, cached input generation for the benchmark.

The inputs are the package's own synthetic CDC stream
(``sources.gen.synth_events``: a valid per-url binlog over a Zipf-skewed
keyspace with deletes, re-inserts and primary-key moves), produced
without a JVM by its bit-exact NumPy port (``synth.py``), and staged in
the layout of ``sources.staging_io.write_staged_events``: one
``_batch_id=<b>`` directory per batch, parquet files without the
partition column, or Avro container files written with the package's
own codec (``avro_staging.encode_container``), ``AVRO_FILES`` per batch.
Generation runs in a child process (``python3 perfbench/gen.py ...``)
before the benchmark's Spark session starts, so it never counts towards
``setup_s``.

Two artefacts are written per (generator parameters, seed):

- ``stage/_batch_id=<b>/``: the staged batches, the only input the
  program sees;
- ``events/``: the same events as parquet, the oracle's input (for
  parquet staging this is the staged directory itself, so it is not
  written twice).

A finished directory carries a ``done.json`` marker and is reused by
later runs with the same key; the cache keeps the ``CACHE_KEEP`` most
recently used sets.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor

# bump when the generated bytes change for the same parameters
GEN_VERSION = 4
# input sets kept in the cache: ten seeds of one workload and a few
# more, so a repeated set of seeds finds its inputs (a bulk_upsert set
# is ~0.17 GB on disk, an avro_extract_feed set ~0.08 GB)
CACHE_KEEP = 12
# Avro container files per staged batch (one per decode task on 4 cores)
AVRO_FILES = 4


def input_key(params: dict, seed: int) -> str:
    blob = json.dumps({"v": GEN_VERSION, "seed": seed, **params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def events_dir(root: str, params: dict) -> str:
    """Directory of the oracle's copy of the events."""
    return os.path.join(root, "stage" if params["format"] == "parquet" else "events")


def stage_schema():
    """Spark schema of the staged rows (the program's read schema)."""
    from bigquery_delta_plugins_spark import schemas

    return schemas.staging_schema(source_schema())


def source_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])


def _evict(cache_root: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently used input sets (and any
    set a killed run left half-written)."""
    if not os.path.isdir(cache_root):
        return
    done = []
    for name in os.listdir(cache_root):
        path = os.path.join(cache_root, name)
        marker = os.path.join(path, "done.json")
        if os.path.exists(marker):
            done.append((os.path.getmtime(marker), path))
        else:
            shutil.rmtree(path, ignore_errors=True)
    for _mtime, path in sorted(done, reverse=True)[keep:]:
        shutil.rmtree(path, ignore_errors=True)


def _write_avro(part, out_dir: str, schema) -> None:
    """Stage one batch as ``AVRO_FILES`` Avro container files."""
    import pyarrow as pa

    from bigquery_delta_plugins_spark.sources.avro_staging import encode_container

    cols = []
    for f in schema.fields:
        col = part[f.name]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        cols.append(col.to_pylist())
    rows = list(zip(*cols))
    step = -(-len(rows) // AVRO_FILES)
    for i in range(AVRO_FILES):
        with open(os.path.join(out_dir, f"part-{i:05d}.avro"), "wb") as f:
            f.write(encode_container(rows[i * step:(i + 1) * step], schema))


def _generate(params: dict, seed: int, out: str) -> list[int]:
    """Generate and stage into ``out``; returns the events per batch."""
    import numpy as np
    import pyarrow.parquet as pq

    from synth import synth_stream

    ev = synth_stream(params["n_events"], params["n_keys"], seed=seed,
                      zipf_exponent=params["zipf"], delete_frac=params["delete_frac"],
                      pk_move_frac=params["pk_move_frac"], batch_size=params["batch_size"])
    batch = ev["_batch_id"].to_numpy()
    edges = np.flatnonzero(np.diff(batch)) + 1
    bounds = list(zip(np.concatenate([[0], edges]), np.concatenate([edges, [len(batch)]])))
    schema = stage_schema()
    if params["format"] not in ("parquet", "avro"):
        raise ValueError(f"unsupported staging format {params['format']!r}")

    dirs = []
    for s, _e in bounds:
        dirs.append(os.path.join(out, "stage", f"_batch_id={batch[s]}"))
        os.makedirs(dirs[-1])
    parts = [ev.slice(s, e - s) for s, e in bounds]
    # batches stage in parallel: the parquet writer releases the GIL, the
    # pure-Python Avro encoder needs a process per batch
    cores = len(os.sched_getaffinity(0))
    if params["format"] == "parquet":
        with ThreadPoolExecutor(cores) as ex:
            list(ex.map(lambda p, d: pq.write_table(
                p.drop(["_batch_id"]), os.path.join(d, "part-00000.parquet")), parts, dirs))
    else:
        with ProcessPoolExecutor(cores, mp_context=multiprocessing.get_context("fork")) as ex:
            list(ex.map(_write_avro, parts, dirs, [schema] * len(parts)))
    if params["format"] != "parquet":
        os.makedirs(os.path.join(out, "events"))
        pq.write_table(ev, os.path.join(out, "events", "events.parquet"))
    return [int(e - s) for s, e in bounds]


def prepare(params: dict, seed: int, cache_root: str) -> dict:
    """Generate and stage the inputs for (params, seed) unless a finished
    copy is cached.  Returns the input descriptor read from ``done.json``."""
    key = input_key(params, seed)
    root = os.path.join(cache_root, key)
    marker = os.path.join(root, "done.json")
    if os.path.exists(marker):
        os.utime(marker)
        with open(marker) as f:
            return {**json.load(f), "root": root, "cached": True}
    _evict(cache_root, CACHE_KEEP - 1)
    tmp = root + ".tmp"
    os.makedirs(tmp)
    info = {"key": key, "seed": seed, "params": params,
            "batch_events": _generate(params, seed, tmp)}
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump(info, f)
    os.replace(tmp, root)
    return {**info, "root": root, "cached": False}


if __name__ == "__main__":
    # python3 perfbench/gen.py '<params json>' <seed> <cache dir>: prepare
    # the inputs in a process of their own, so the benchmark process never
    # holds the generator's memory; prints the input descriptor as JSON
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(prepare(json.loads(sys.argv[1]), int(sys.argv[2]), sys.argv[3])))
