"""Self-checks of the benchmark: the oracle's semantics, negative
controls that prove the correctness check can fail, and the result line.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests apply a tiny stream through the real engine
(one local Spark session, about a minute on a 4-core box).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402

TINY = {"n_events": 1_800, "batch_size": 300, "n_keys": 150, "zipf": 2.0,
        "delete_frac": 0.1, "pk_move_frac": 0.1}


def _replay(rows):
    cols = ("_op", "_batch_id", "_sequence_num", "url", "_before_url")
    t = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    n = len(rows)
    t.update({"warc_ts": t["_sequence_num"], "html": [None] * n, "lang": [None] * n})
    return oracle.Replay(pa.table(t), extract=False)


def test_replay_keeps_reference_stale_row_of_cross_batch_move_chain():
    # batch 1 moves a -> b and then updates b: the reference diff query
    # drops the move, so the MERGE never sees key a and leaves it behind
    rep = _replay([
        ("INSERT", 0, 1, "a", None),
        ("UPDATE", 1, 2, "b", "a"),
        ("UPDATE", 1, 3, "b", "b"),
    ])
    rep.apply_through(1)
    assert {u: s for u, (s, _h) in rep.expected().items()} == {"a": 1, "b": 3}


def test_replay_move_delete_reinsert_within_batch():
    rep = _replay([
        ("INSERT", 0, 1, "a", None),
        ("UPDATE", 1, 2, "b", "a"),
        ("DELETE", 2, 3, "b", "b"),
        ("INSERT", 2, 4, "b", None),
    ])
    rep.apply_through(0)
    before = rep.apply_through(1)
    assert sorted(rep.state) == ["b"] and before == {"b": None, "a": (1, 0)}
    before = rep.apply_through(2)
    assert rep.state["b"][0] == 4
    assert oracle.expected_changes(before, rep.state) == {("b", "update", 4)}


def test_page_text_drops_script_style_and_tags():
    html = (b"<html><head><title>Page 7</title><script>var x = '<p>junk</p>';</script>"
            b"<style>p { x: 1 }</style></head>\n<body><h1>Entry</h1>\n<p>w1  w2</p>"
            b"\n</body></html>")
    assert oracle.page_text(html) == "Page 7 Entry w1 w2"
    assert oracle.page_text(None) is None


def test_input_key_covers_seed_and_parameters():
    p = {**TINY, "format": "avro"}
    assert gen.input_key(p, 1) == gen.input_key(dict(p), 1)
    assert gen.input_key(p, 1) != gen.input_key(p, 2)
    assert gen.input_key(p, 1) != gen.input_key({**p, "format": "parquet"}, 1)


def test_port_matches_synth_events_bit_for_bit():
    from bigquery_delta_plugins_spark.session import get_spark
    from bigquery_delta_plugins_spark.sources.gen import synth_events

    import run
    import synth

    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    try:
        for n, urls, kw in [
            (3_000, 200, {"seed": 7, "batch_size": 500, "delete_frac": 0.1,
                          "pk_move_frac": 0.1}),
            (20_000, 1_000, {"seed": 123, "batch_size": 5_000}),
            (2_000, 100, {"seed": 2**33 + 5, "batch_size": 400}),  # a long literal
        ]:
            want = synth_events(spark, n, urls, **kw).orderBy("_sequence_num").toArrow()
            got = synth.synth_stream(n, urls, **kw)
            assert got.schema.names == want.schema.names
            for c in want.schema.names:
                a, b = want[c].combine_chunks(), got[c].combine_chunks()
                assert a.equals(b.cast(a.type)), c
    finally:
        run.stop_spark(spark)


@pytest.fixture(scope="module")
def tiny_run(tmp_path_factory):
    """Run the avro workload's full path on a tiny stream, keeping the
    run directory for the negative controls."""
    import run
    import workloads

    work = str(tmp_path_factory.mktemp("work"))
    wl = workloads.WORKLOADS["avro_extract_feed"]
    saved = (dict(wl["gen"]), run.WORK)
    wl["gen"].update(TINY)
    run.WORK = work
    try:
        code = run.main(["--workload", "avro_extract_feed", "--seed", "3",
                         "--seconds", "1", "--keep"])
        params = dict(wl["gen"])
    finally:
        wl["gen"].clear()
        wl["gen"].update(saved[0])
        run.WORK = saved[1]
    assert code == 0
    run_dir = glob.glob(os.path.join(work, "runs", "*"))[0]
    inputs = glob.glob(os.path.join(work, "inputs", "*"))[0]
    events = oracle.read_events(gen.events_dir(inputs, params), 10**9)
    with open(os.path.join(run_dir, "cp", "commits.json")) as f:
        last = json.load(f)["latest_batch_id"]
    return {"run": run_dir, "events": events, "applied": list(range(last + 1))}


def _check(r, applied=None):
    return oracle.check(r["events"], applied or r["applied"],
                        os.path.join(r["run"], "wh", "web", "pages"),
                        True, os.path.join(r["run"], "feed"))


def test_oracle_matches_real_run(tiny_run):
    v = _check(tiny_run)
    assert v["state"] == [] and not any(v["changes"].values())


def test_oracle_fails_when_a_batch_is_skipped(tiny_run):
    # the oracle replays one batch more than the engine applied
    nxt = tiny_run["applied"][-1] + 1
    assert nxt in set(tiny_run["events"]["_batch_id"].to_pylist())
    assert _check(tiny_run, tiny_run["applied"] + [nxt])["state"]


def test_oracle_fails_on_one_corrupted_lake_row(tiny_run, tmp_path):
    table = os.path.join(tiny_run["run"], "wh", "web", "pages")
    with open(os.path.join(table, "_manifests", "_current")) as f:
        name = f.read().strip()
    with open(os.path.join(table, "_manifests", name)) as f:
        path = os.path.join(table, json.load(f)["files"][0]["path"])
    backup = str(tmp_path / "orig.parquet")
    shutil.copy(path, backup)
    try:
        t = pq.read_table(path)
        lang = t["lang"].to_pylist()
        lang[0] = "xx"
        pq.write_table(t.set_column(t.schema.get_field_index("lang"), "lang",
                                    pa.array(lang, t["lang"].type)), path)
        assert len(_check(tiny_run)["state"]) == 1
    finally:
        shutil.copy(backup, path)
    assert _check(tiny_run)["state"] == []


def test_oracle_fails_on_a_missing_changelog_row(tiny_run, tmp_path):
    part = os.path.join(tiny_run["run"], "feed", f"batch={tiny_run['applied'][-1]}")
    path = next(f for f in sorted(glob.glob(os.path.join(part, "*.parquet")))
                if pq.read_metadata(f).num_rows)
    keep = str(tmp_path / "feed")
    shutil.copytree(part, keep)
    try:
        pq.write_table(pq.read_table(path).slice(1), path)
        v = _check(tiny_run)
        assert v["changes"][tiny_run["applied"][-1]]
    finally:
        shutil.rmtree(part)
        shutil.copytree(keep, part)


def test_run_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_upsert",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env,
    )
    assert p.returncode != 0 and p.stdout == ""
