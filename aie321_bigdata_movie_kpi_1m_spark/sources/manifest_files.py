"""The one no-JVM reader of the snapshot layer's on-disk manifest format.

Every scan path shares it: the layer itself (``snapshots.snapshot_files``
prunes through ``prune`` with a JVM-backed segment reader), the
pushdown batch source (``snapshot_batch``) and the stream sources
(``pyds``), whose planning runs in Python workers with no SparkSession.
Only the stdlib and pyarrow are used, and the register functions of
those sources pickle this module BY VALUE, because their runners never
see ``addPyFile``.

Layout (written by ``snapshots.commit_snapshot``)::

    <layer>/_manifests/v{N}.json   one manifest per committed version
    <layer>/_manifests/segments/   immutable per-file maps (format 2)

A format-1 manifest inlines ``files`` / ``stats`` / ``blooms``; a
format-2 manifest carries one ``segments`` entry per segment file, each
with a per-column [min, max] envelope and an optional hex ``bloom_union``.
``delete_files`` lists the merge-on-read delete entries: position
deletes (a parquet dir of (file, pos) rows) and equality deletes
(``kind="equality"``, a key set over ``key_col``), each with the data
file bases it ``touches``.

Plain file IO: correct for ``file://`` layers; an object-store
deployment would plug its native client into ``read_json``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

MANIFEST_DIR = "_manifests"


def local(p: str) -> str:
    return p.removeprefix("file://").removeprefix("file:")


def read_json(p: str) -> dict:
    with open(local(p)) as fh:
        return json.load(fh)


def versions(d: str) -> list[int]:
    """Ascending N of the ``v{N}.json`` files in directory ``d`` (a
    layer's manifest dir or a catalog's version dir); [] if absent."""
    d = local(d)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(d)
        if n.startswith("v") and n.endswith(".json")
    )


def manifest_dir(path: str) -> str:
    return os.path.join(local(path), MANIFEST_DIR)


def read_manifest(path: str, v: int) -> dict:
    """Version ``v``'s manifest of the layer at ``path``, as written."""
    return read_json(os.path.join(manifest_dir(path), f"v{v}.json"))


def read_segment(p: str) -> dict:
    return read_json(p)


def head_schema(path: str) -> dict:
    """The column -> DataType-JSON schema record of the head manifest."""
    vs = versions(manifest_dir(path))
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    return read_manifest(path, vs[-1]).get("schema") or {}


def data_files(m: dict, read_segment) -> tuple[list[str], dict, dict]:
    """(files, per-file stats, per-file blooms) of manifest ``m`` —
    format 2 loads every listed segment through ``read_segment``."""
    if m.get("format", 1) < 2:
        return list(m["files"]), m.get("stats") or {}, m.get("blooms") or {}
    files: list[str] = []
    stats: dict = {}
    blooms: dict = {}
    for e in m.get("segments") or []:
        seg = read_segment(e["path"])
        files.extend(seg["files"])
        stats.update(seg.get("stats") or {})
        blooms.update(seg.get("blooms") or {})
    return sorted(files), stats, blooms


# ---------------------------------------------------------------------------
# Pruning
# ---------------------------------------------------------------------------


@dataclass
class Pred:
    """One predicate, normalized: ``op`` in {eq, gt, gte, lt, lte, in},
    over top-level column ``col``.  A None ``value`` is an open bound."""

    op: str
    col: str
    value: object


def range_keeps(stats_entry, pred: Pred) -> bool:
    """May rows of a file/segment with [min, max] ``stats_entry`` satisfy
    ``pred``?  Missing stats keep (cannot skip safely); recorded-but-
    [None, None] (zero-row / all-NULL) skips — every predicate is
    NULL-rejecting.  Unorderable bound/stat pairs conservatively keep."""
    if stats_entry is None:
        return True
    mn, mx = stats_entry[0], stats_entry[1]
    if mn is None or mx is None:
        return False
    if pred.value is None:
        return True
    try:
        if pred.op == "eq":
            return mn <= pred.value <= mx
        if pred.op == "gt":
            return mx > pred.value
        if pred.op == "gte":
            return mx >= pred.value
        if pred.op == "lt":
            return mn < pred.value
        if pred.op == "lte":
            return mn <= pred.value
        if pred.op == "in":
            return any(mn <= v <= mx for v in pred.value)
    except TypeError:
        return True
    return True


def hex_has_bits(hx: str, positions: list[int]) -> bool:
    """True iff every probe position is set in the hex bitmap."""
    arr = bytes.fromhex(hx) if hx else b""
    for p in positions:
        if p // 8 >= len(arr) or not (arr[p // 8] >> (p % 8)) & 1:
            return False
    return True


def prune(
    m: dict, preds: list[Pred], pos_list: list[list[int]] | None, read_segment
) -> dict:
    """Two-level manifest pruning: segment-entry [min, max] envelopes and
    bloom unions first — untouched segments are never opened — then
    per-file stats and blooms.  ``pos_list`` holds one bloom bit-position
    list per probe value of the layer's bloom column (None = no probe);
    a file survives if ANY value may be present.  Never lossy: anything
    unknown keeps.  Returns {"files", "blooms" (of the loaded segments),
    "n_segments_total", "n_segments_read", "n_files_total"}."""
    entries = m.get("segments") or []
    survivors = [
        e
        for e in entries
        if all(range_keeps((e.get("stats") or {}).get(p.col), p) for p in preds)
        and (
            pos_list is None
            or e.get("bloom_union") is None
            or any(hex_has_bits(e["bloom_union"], pos) for pos in pos_list)
        )
    ]
    files, stats, blooms = data_files({**m, "segments": survivors}, read_segment)
    kept = []
    for f in files:
        base = f.rsplit("/", 1)[-1]
        fst = stats.get(base, {})
        if not all(range_keeps(fst.get(p.col), p) for p in preds):
            continue
        bits = blooms.get(base) if pos_list is not None else None
        if bits is not None:
            bitset = set(bits)
            if not any(all(pp in bitset for pp in pos) for pos in pos_list):
                continue
        kept.append(f)
    fmt2 = m.get("format", 1) >= 2
    return {
        "files": kept,
        "blooms": blooms,
        "n_segments_total": len(entries),
        "n_segments_read": len(survivors),
        "n_files_total": (
            sum(int(e.get("n_files") or 0) for e in entries)
            if fmt2
            else len(files)
        ),
    }


# ---------------------------------------------------------------------------
# Merge-on-read deletes (executor side)
# ---------------------------------------------------------------------------


def deletes_touching(entries: list, base: str) -> tuple[tuple, tuple]:
    """(position-delete dirs, ((keys_path, key_col), ...) equality
    entries) among manifest delete ``entries`` that touch data file
    ``base``."""
    pos_dirs = []
    eq_entries = []
    for e in entries:
        if base not in e["touches"]:
            continue
        if e.get("kind") == "equality":
            eq_entries.append((e["path"], e["key_col"]))
        else:
            pos_dirs.append(e["path"])
    return tuple(pos_dirs), tuple(eq_entries)


def read_data_file(path: str, cols, key_cols):
    """COLUMN-PRUNED read of one data file: ``cols`` plus the delete key
    columns, each only where the file has it (an evolved carried file
    may lack newer columns) — at 100 TB reading 2 of 40 columns is the
    difference between a projection and a table scan."""
    import pyarrow.parquet as pq

    file_cols = set(pq.read_schema(local(path)).names)
    need = [c for c in cols if c in file_cols]
    for c in key_cols:
        if c not in need and c in file_cols:
            need.append(c)
    return pq.read_table(local(path), columns=need)


def key_hits(table, keys_path: str, key_col: str):
    """Boolean mask: rows whose ``key_col`` is in the key set at
    ``keys_path`` (NULL keys never match)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = pq.read_table(local(keys_path), columns=[key_col]).column(key_col)
    return pc.fill_null(pc.is_in(table.column(key_col), value_set=keys), False)


def apply_deletes(table, base: str, pos_dirs, eq_entries):
    """``table`` (data file ``base`` read in row order) with its
    position deletes masked out and its equality-delete keys
    anti-filtered."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dead: set[int] = set()
    for d in pos_dirs:
        dv = pq.read_table(local(d), columns=["file", "pos"]).filter(
            pc.equal(pc.field("file"), base)
        )
        dead.update(dv.column("pos").to_pylist())
    if dead:
        # vectorized mask — a per-row Python loop here would put O(rows)
        # interpreter work on the executor hot path
        import numpy as np

        mask = np.ones(table.num_rows, dtype=bool)
        mask[np.fromiter(dead, dtype=np.int64)] = False
        table = table.filter(pa.array(mask))
    for kpath, key_col in eq_entries:
        # an evolved carried file lacking the key column reads NULL for
        # it — NULL never equals a key, nothing to drop
        if key_col in table.column_names:
            table = table.filter(pc.invert(key_hits(table, kpath, key_col)))
    return table
