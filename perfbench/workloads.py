"""The benchmark's workloads: generator parameters, consumer
configuration and warm-up for each.

Load model for every workload: a closed loop with ONE driver.  The whole
backlog is generated and staged before the run; the benchmark hands
the next staged batch to the engine's micro-batch loop as soon as the
previous batch's checkpoint committed, so the benchmark measures work
per second at a stated input size, not behaviour under an arrival
schedule.  The backlog is sized so that it drains before the
``--seconds`` cap on a 4-core box: every run measures the same batches,
and the cap only cuts a run short in a very slow phase of the machine.

The stream parameters are those of the package's generator
(``sources.gen.synth_events`` defaults, which ``bench.py`` also uses:
Zipf exponent 2.0, 5% deletes, 2% primary-key moves) and ``bench.py``'s
keyspace rule (``n_keys = n_events // 20``).  Batch sizes and backlog
lengths are set by the time budget; ``METRICS.md`` gives the
measurements behind them.
"""

from __future__ import annotations

import os

STREAM = {"zipf": 2.0, "delete_frac": 0.05, "pk_move_frac": 0.02}


def stream(batch_size: int, batches: int, fmt: str) -> dict:
    n = batch_size * batches
    return {"n_events": n, "batch_size": batch_size, "n_keys": n // 20, **STREAM,
            "format": fmt}


WORKLOADS: dict[str, dict] = {
    # flatten, merge and the lake write do almost all the work; every
    # batch rewrites all 32 buckets (the documented throughput config)
    "bulk_upsert": {
        "gen": stream(100_000, 6, "parquet"),
        "consumer": {
            "num_buckets": 32, "single_job_per_batch": True,
            "single_job_merge_strategy": "broadcast", "assume_unique_keys": True,
        },
        "extract": False, "feed": False, "warmup_batches": 2, "changelog_rounds": 2,
    },
    # Avro decode, html-to-text extraction and changelog reads (the
    # CLI-default two-job apply); the read-beside-write workload
    "avro_extract_feed": {
        "gen": stream(12_500, 6, "avro"),
        "consumer": {"num_buckets": 32},
        "extract": True, "feed": True, "warmup_batches": 2, "changelog_rounds": 3,
    },
}


def spark_cores() -> int:
    """Task slots of the benchmark's ``local[n]`` session: all cores but
    one."""
    return max(1, len(os.sched_getaffinity(0)) - 1)
