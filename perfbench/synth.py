"""NumPy port of the package's synthetic CDC stream.

``synth_stream(n_events, n_urls, ...)`` returns, as a pyarrow table, the
same rows ``bigquery_delta_plugins_spark.sources.gen.synth_events``
returns for the same arguments — bit for bit, column for column
(``test_perfbench.py`` checks this against the Spark original).  Every
random draw there is Spark's ``xxhash64`` of column values, so the port
re-implements that hash (XXH64 with Spark's seed chaining: each
argument is hashed with the previous argument's hash as seed, starting
from 42; ints as 4 bytes, longs as 8, strings as their UTF-8 bytes) and
the per-url window logic, vectorized over all events.

The benchmark generates its inputs with this port because it needs no
JVM: the Spark original costs a Spark session per input set, 34-50 s
per seed on a 4-core VM, which a benchmark that runs each workload
with a new seed cannot afford.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]
BASE_TS = 1_700_000_000

_U = np.uint64
P1 = _U(0x9E3779B185EBCA87)
P2 = _U(0xC2B2AE3D27D4EB4F)
P3 = _U(0x165667B19E3779F9)
P4 = _U(0x85EBCA77C2B2AE63)
P5 = _U(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h):
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def _as_u64(seed) -> np.ndarray:
    return np.asarray(seed, dtype=np.int64).view(np.uint64)


def hash_int(v, seed) -> np.ndarray:
    """Spark ``XXH64.hashInt`` (int32 values; signed int64 result)."""
    with np.errstate(over="ignore"):
        h = _as_u64(seed) + P5 + _U(4)
        h = h ^ ((np.asarray(v, np.int64).view(np.uint64) & _U(0xFFFFFFFF)) * P1)
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h).view(np.int64)


def hash_lit(v: int, seed) -> np.ndarray:
    """Hash of a Python int literal: ``F.lit`` makes it an int when it
    fits 32 bits, a long otherwise."""
    return hash_int(v, seed) if -2**31 <= v < 2**31 else hash_long(v, seed)


def _round(acc, lane):
    acc = acc + lane * P2
    return _rotl(acc, 31) * P1


def hash_long(v, seed) -> np.ndarray:
    """Spark ``XXH64.hashLong``."""
    with np.errstate(over="ignore"):
        h = _as_u64(seed) + P5 + _U(8)
        h = h ^ _round(_U(0), np.asarray(v, np.int64).view(np.uint64))
        h = _rotl(h, 27) * P1 + P4
        return _fmix(h).view(np.int64)


def _words(m: np.ndarray, off: int) -> np.ndarray:
    return np.ascontiguousarray(m[:, off:off + 8]).view("<u8").ravel()


def hash_strings(values: pa.Array, seed) -> np.ndarray:
    """Spark ``XXH64.hashUnsafeBytes`` of each string's UTF-8 bytes,
    vectorized over strings of equal byte length."""
    values = values.cast(pa.binary())
    lens = pc.binary_length(values).to_numpy(zero_copy_only=False)
    seed = np.broadcast_to(_as_u64(seed), lens.shape)
    out = np.empty(len(lens), np.int64)
    data = np.frombuffer(values.buffers()[2], np.uint8)
    offs = np.frombuffer(values.buffers()[1], np.int32)[values.offset:values.offset + len(lens)]
    with np.errstate(over="ignore"):
        for n in np.unique(lens):
            rows = np.flatnonzero(lens == n)
            m = data[offs[rows][:, None] + np.arange(n)]
            s = seed[rows]
            off = 0
            if n >= 32:
                v1, v2, v3, v4 = s + P1 + P2, s + P2, s.copy(), s - P1
                while off <= n - 32:
                    v1 = _round(v1, _words(m, off))
                    v2 = _round(v2, _words(m, off + 8))
                    v3 = _round(v3, _words(m, off + 16))
                    v4 = _round(v4, _words(m, off + 24))
                    off += 32
                h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
                for v in (v1, v2, v3, v4):
                    h = (h ^ _round(_U(0), v)) * P1 + P4
            else:
                h = s + P5
            h = h + _U(n)
            while off + 8 <= n:
                h = _rotl(h ^ _round(_U(0), _words(m, off)), 27) * P1 + P4
                off += 8
            if off + 4 <= n:
                k = np.ascontiguousarray(m[:, off:off + 4]).view("<u4").ravel().astype(np.uint64)
                h = _rotl(h ^ (k * P1), 23) * P2 + P3
                off += 4
            while off < n:
                h = _rotl(h ^ (m[:, off].astype(np.uint64) * P5), 11) * P1
                off += 1
            out[rows] = _fmix(h).view(np.int64)
    return out


def _u01(ids: np.ndarray, seed: int, tag: int) -> np.ndarray:
    h = hash_int(tag, hash_lit(seed, hash_long(ids, SPARK_SEED)))
    return np.mod(h, 1_000_000_007).astype(np.float64) / 1_000_000_007.0


def _str(a) -> pa.Array:
    return pa.array(np.asarray(a, np.int64)).cast(pa.string())


def _page_url(idx: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "https://site-", _str(np.mod(idx, 997)), ".example.com/page/", _str(idx), "")


def make_html(url: pa.Array, version: np.ndarray, seed: int) -> pa.Array:
    """``sources.gen.make_html``: title, script block and a hash-chained
    body of 20-59 words."""
    hu = hash_strings(url, SPARK_SEED)
    hv = hash_long(version, hu)
    h = hash_lit(seed, hv)
    n_words = np.mod(h, 40) + 20
    words = []
    for i in range(1, 60):
        w = np.mod(hash_lit(seed, hash_int(i, hv)), 99991)
        words.append(pc.if_else(pa.array(i <= n_words), pc.binary_join_element_wise(
            "w", _str(w), ""), pa.nulls(len(h), pa.string())))
    body = pc.binary_join_element_wise(*words, " ", null_handling="skip")
    junk = hash_long(h, SPARK_SEED)
    return pc.binary_join_element_wise(
        "<html><head><title>Page ", _str(np.abs(h)), "</title><script>var x = 'junk",
        _str(np.abs(junk)), "';</script></head>\n<body><h1>Entry</h1>\n<p>", body,
        "</p>\n</body></html>", "",
    ).cast(pa.binary())


def make_html_threaded(url: pa.Array, version: np.ndarray, seed: int) -> pa.Array:
    """``make_html`` over row chunks on a thread per core.  Each row's
    html depends on that row alone, and NumPy and Arrow compute release
    the GIL, so this is ~3x faster on 4 cores and returns the same
    array."""
    n, chunks = len(version), 8
    bounds = [(i * n // chunks, (i + 1) * n // chunks) for i in range(chunks)]
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
        parts = list(ex.map(
            lambda b: make_html(url.slice(b[0], b[1] - b[0]), version[b[0]:b[1]], seed),
            bounds))
    return pa.concat_arrays(parts)


def synth_stream(n_events: int, n_urls: int, *, seed: int = 42, zipf_exponent: float = 2.0,
                 delete_frac: float = 0.05, pk_move_frac: float = 0.02,
                 batch_size: int | None = None, start_seq: int = 1) -> pa.Table:
    """``synth_events`` as a pyarrow table in ``_sequence_num`` order."""
    ids = np.arange(n_events, dtype=np.int64)
    seq = ids + start_seq
    idx = np.floor(float(n_urls) * np.power(_u01(ids, seed, 1), float(zipf_exponent))
                   ).astype(np.int64)
    u_del, u_mv = _u01(ids, seed, 2), _u01(ids, seed, 3)

    # per-url windows ordered by sequence number
    order = np.lexsort((seq, idx))
    g_idx = idx[order]
    first = np.ones(n_events, bool)
    first[1:] = g_idx[1:] != g_idx[:-1]
    starts = np.flatnonzero(first)
    group = np.cumsum(first) - 1
    rank = np.arange(n_events) - starts[group] + 1

    def lag(a, fill):
        out = np.empty_like(a)
        out[0] = fill
        out[1:] = a[:-1]
        out[first] = fill
        return out

    d = u_del[order]
    prev_d = lag(d, np.nan)
    is_delete = (rank > 1) & (d < delete_frac) & (prev_d >= delete_frac)
    prev_was_delete = lag(is_delete, False)
    insert = (rank == 1) | prev_was_delete
    delete = ~insert & is_delete
    update = ~insert & ~is_delete
    is_move = update & (u_mv[order] < pk_move_frac)
    # the last PK move strictly before each event of the same url
    s = seq[order]
    span = np.int64(s.max() + 1) if n_events else np.int64(1)
    run = np.maximum.accumulate(group * span + np.where(is_move, s, 0)) - group * span
    cur_move = lag(run, 0)

    inv = np.empty(n_events, np.int64)
    inv[order] = np.arange(n_events)
    is_move, cur_move, delete, insert = (a[inv] for a in (is_move, cur_move, delete, insert))

    base = _page_url(idx)
    moved = pc.binary_join_element_wise(base, "?v=", _str(cur_move), "")
    cur_url = pc.if_else(pa.array(cur_move > 0), moved, base)
    new_url = pc.if_else(pa.array(is_move),
                         pc.binary_join_element_wise(base, "?v=", _str(seq), ""), cur_url)
    op = np.where(insert, "INSERT", np.where(delete, "DELETE", "UPDATE"))
    html = make_html_threaded(new_url, seq, seed)
    lang = np.mod(hash_int(7, hash_lit(seed, hash_strings(new_url, SPARK_SEED))), len(LANGS))
    batch = (seq - start_seq) // batch_size if batch_size else np.zeros(n_events, np.int64)
    n = n_events
    return pa.table({
        "_op": pa.array(op, pa.string()),
        "_batch_id": pa.array(batch, pa.int64()),
        "_sequence_num": pa.array(seq, pa.int64()),
        "url": new_url,
        "warc_ts": pa.array((BASE_TS + seq) * 1_000_000, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": pa.nulls(n, pa.string()),
        "lang": pa.array(LANGS).take(pa.array(lang)),
        "_before_url": pc.if_else(pa.array(insert), pa.nulls(n, pa.string()), cur_url),
        "_before_warc_ts": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "_before_html": pc.if_else(pa.array(delete), html, pa.nulls(n, pa.binary())),
        "_before_text": pa.nulls(n, pa.string()),
        "_before_lang": pa.nulls(n, pa.string()),
    })
