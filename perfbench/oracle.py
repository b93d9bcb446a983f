"""Independent correctness oracle for the benchmark.

Replays the generated events batch by batch in plain Python — INSERT,
UPDATE (including primary-key moves) and DELETE in ``_sequence_num``
order, under the reference's per-batch diff-and-MERGE semantics (see
:class:`Replay`) — and compares the result with the lake state read
straight from the table's JSON manifest and parquet files with pyarrow,
bypassing the engine's own reader.  Nothing here imports the engine.
The events come from the generator's oracle copy (``gen.events_dir``);
the text the html-to-text extraction must yield is computed by
:func:`page_text`, a stdlib ``html.parser`` walk that shares no code
with the engine's regex extractor.

Compared per key: presence, ``_sequence_num`` and a hash over the
payload columns.  For the change-feed workload, each batch's changelog
is compared with the keyed diff of the oracle states before and after
that batch.
"""

from __future__ import annotations

import hashlib
import json
import os
from html.parser import HTMLParser

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

PAYLOAD = ("url", "warc_ts", "html", "text", "lang")


def payload_hash(row: dict) -> str:
    h = hashlib.blake2b(digest_size=8)
    for c in PAYLOAD:
        v = row.get(c)
        if isinstance(v, str):
            v = v.encode()
        elif v is not None and not isinstance(v, bytes):
            v = str(v).encode()
        h.update(b"\x00" if v is None else b"\x01" + len(v).to_bytes(4, "little") + v)
    return h.hexdigest()


class _Text(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=False)
        self.parts: list[str] = []
        self.skip = 0

    def handle_starttag(self, tag, attrs):
        self.skip += tag in ("script", "style")

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self.skip:
            self.skip -= 1

    def handle_data(self, data):
        if not self.skip:
            self.parts.append(data)


def page_text(html: bytes | None) -> str | None:
    """The visible text of a page: script and style content and every
    tag dropped, whitespace runs collapsed to one space."""
    if html is None:
        return None
    p = _Text()
    p.feed(html.decode("utf-8"))
    p.close()
    return " ".join(" ".join(p.parts).split())


def read_events(path: str, last_batch: int) -> pa.Table:
    """The generated events of batches ``<= last_batch`` in sequence order."""
    # the batch directories are ``_batch_id=<b>``, which the default
    # ignore list (".", "_") would skip
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_SUCCESS"]).to_table(
        columns=["_op", "_batch_id", "_sequence_num", "url", "warc_ts", "html", "lang",
                 "_before_url"],
        filter=ds.field("_batch_id") <= last_batch,
    )
    t = t.set_column(t.schema.get_field_index("_batch_id"), "_batch_id",
                     t["_batch_id"].cast(pa.int64()))
    return t.sort_by("_sequence_num")


class Replay:
    """Batch-by-batch replay with the reference's apply semantics:
    url -> (_sequence_num, event row index).

    Each batch is first flattened the way the reference's diff query
    specifies (an event survives unless a LATER event of the same batch
    has ``_before_url`` equal to its ``url``), then the survivors are
    applied in sequence order as the reference MERGE's arms: matched on
    ``_before_url`` they delete or replace the target row, unmatched
    INSERT/UPDATEs are inserted.  For any stream in which no primary-key
    move chain spans a batch boundary this equals a plain event-by-event
    replay; when the head of a multi-link move chain predates the batch,
    the reference (and so the engine) leaves the chain's first row
    behind, and so does this replay."""

    def __init__(self, events: pa.Table, extract: bool):
        self.events = events
        self.extract = extract
        self.state: dict[str, tuple[int, int]] = {}
        # the diff query, vectorized: an event survives unless the
        # highest ``_sequence_num`` among the events of its batch whose
        # ``_before_url`` is its url is above its own
        t = events.select(["_batch_id", "_sequence_num", "url", "_before_url"]).append_column(
            "_row", pa.array(range(events.num_rows), pa.int64()))
        agg = (t.filter(pc.is_valid(t["_before_url"]))
               .group_by(["_batch_id", "_before_url"])
               .aggregate([("_sequence_num", "max")]))
        killers = pa.table({"_batch_id": agg["_batch_id"], "url": agg["_before_url"],
                            "_killer": agg["_sequence_num_max"]})
        t = t.join(killers, ["_batch_id", "url"], join_type="left outer")
        t = t.filter(pc.or_kleene(pc.is_null(t["_killer"]),
                                  pc.less_equal(t["_killer"], t["_sequence_num"])))
        t = t.sort_by("_row")
        self._cols = {c: t[c].to_pylist()
                      for c in ("_batch_id", "_sequence_num", "url", "_before_url", "_row")}
        self._cols["_delete"] = pc.equal(events["_op"], "DELETE").take(t["_row"]).to_pylist()
        self._pos = 0
        self._ends: dict[int, int] = {}
        for i, b in enumerate(self._cols["_batch_id"]):
            self._ends[b] = i + 1

    def apply_through(self, batch_id: int) -> dict[str, tuple[int, int] | None]:
        """Apply every batch up to and including ``batch_id``; returns the
        pre-image of every key those batches touched (absent keys map to
        None)."""
        end = self._ends.get(batch_id, self._pos)
        before: dict[str, tuple[int, int] | None] = {}
        cols, st = self._cols, self.state
        # the flattened events in sequence order, as the MERGE arms
        for i in range(self._pos, end):
            url, old = cols["url"][i], cols["_before_url"][i]
            for k in (url, old):
                if k is not None and k not in before:
                    before[k] = st.get(k)
            if old is not None and old in st:
                del st[old]
            if not cols["_delete"][i]:
                st[url] = (cols["_sequence_num"][i], cols["_row"][i])
        self._pos = max(self._pos, end)
        return before

    def expected(self) -> dict[str, tuple[int, str]]:
        """The replayed state as url -> (_sequence_num, payload hash)."""
        urls = list(self.state)
        rows = _micros(self.events.take([self.state[u][1] for u in urls])).to_pydict()
        rows["text"] = ([page_text(h) for h in rows["html"]] if self.extract
                        else [None] * len(urls))
        return {u: (self.state[u][0], payload_hash({c: rows[c][j] for c in PAYLOAD}))
                for j, u in enumerate(urls)}


def _micros(t: pa.Table) -> pa.Table:
    """Timestamp columns as int64 microseconds (Spark may write INT96)."""
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            col = t.column(i).cast(pa.timestamp("us", tz=f.type.tz))
            t = t.set_column(i, f.name, col.cast(pa.int64()))
    return t


def read_lake(table_path: str) -> dict[str, list[tuple[int, str]]]:
    """Current table state from the manifest, via pyarrow: url ->
    [(_sequence_num, payload hash), ...] (a list, so duplicate keys
    show up as a mismatch)."""
    mdir = os.path.join(table_path, "_manifests")
    with open(os.path.join(mdir, "_current")) as f:
        name = f.read().strip()
    with open(os.path.join(mdir, name)) as f:
        snap = json.load(f)
    out: dict[str, list[tuple[int, str]]] = {}
    for entry in snap["files"]:
        t = pq.read_table(os.path.join(table_path, entry["path"]))
        cols = _micros(t.select([c for c in t.column_names
                                 if c in PAYLOAD or c == "_sequence_num"])).to_pydict()
        for i in range(t.num_rows):
            row = {c: (cols[c][i] if c in cols else None) for c in PAYLOAD}
            out.setdefault(row["url"], []).append(
                (cols["_sequence_num"][i], payload_hash(row))
            )
    return out


def compare_state(expected: dict[str, tuple[int, str]], lake: dict[str, list]) -> list[str]:
    """Mismatch descriptions (empty list == MATCH)."""
    bad = []
    for url, rows in lake.items():
        want = expected.get(url)
        if want is None:
            bad.append(f"unexpected key {url}")
        elif len(rows) != 1:
            bad.append(f"{len(rows)} rows for key {url}")
        elif rows[0][0] != want[0]:
            bad.append(f"{url}: _sequence_num {rows[0][0]} != {want[0]}")
        elif rows[0][1] != want[1]:
            bad.append(f"{url}: payload hash differs")
    for url in expected.keys() - lake.keys():
        bad.append(f"missing key {url}")
    return bad


def expected_changes(before: dict, after: dict) -> set[tuple[str, str, int]]:
    """Keyed diff of two oracle states restricted to the touched keys:
    {(url, change_type, image _sequence_num)}."""
    out = set()
    for url, pre in before.items():
        post = after.get(url)
        if pre is None and post is not None:
            out.add((url, "insert", post[0]))
        elif pre is not None and post is None:
            out.add((url, "delete", pre[0]))
        elif pre is not None and post is not None and pre[0] != post[0]:
            out.add((url, "update", post[0]))
    return out


def read_changes(part_dir: str) -> set[tuple[str, str, int]]:
    if not os.path.isdir(part_dir):
        return set()
    t = pq.read_table(part_dir, columns=["url", "_change_type", "_sequence_num"])
    c = t.to_pydict()
    return set(zip(c["url"], c["_change_type"], c["_sequence_num"]))


def check(events: pa.Table, applied: list[int], table_path: str, extract: bool,
          changes_dir: str | None = None) -> dict:
    """Replay the batches in ``applied`` (staged batch ids, in order) and
    compare with the lake table at ``table_path``; with ``changes_dir``
    also compare every batch's feed partition.  Returns
    ``{"state": [...mismatches], "changes": {batch: [...mismatches]}}``."""
    last = max(applied, default=-1)
    rep = Replay(events.filter(pc.less_equal(events["_batch_id"], last)), extract)
    changes: dict[int, list[str]] = {}
    for b in applied:
        before = rep.apply_through(b)
        if changes_dir is not None:
            want = expected_changes(before, rep.state)
            got = read_changes(os.path.join(changes_dir, f"batch={b}"))
            changes[b] = [f"missing {x}" for x in sorted(want - got)] + [
                f"unexpected {x}" for x in sorted(got - want)
            ]
    return {"state": compare_state(rep.expected(), read_lake(table_path)),
            "changes": changes}
