"""Correctness models computed apart from the program.

- ``LakeModel`` replays appends, equality deletes, one kind of
  positional delete and rollbacks over the generated rows in plain
  Python, with Iceberg's sequence rule: an equality delete committed
  at sequence s hides matching rows of data files with sequence < s
  only.
- ``reread_visible`` lists a snapshot's files from the table's JSON
  log and applies its delete files with pyarrow, without Spark.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

Row = tuple[int, int, int]  # (id, bucket, val) — see datagen.LAKE_DDL
_COL = {"id": 0, "bucket": 1, "val": 2}


@dataclass(frozen=True)
class LakeState:
    entries: tuple[tuple[int, tuple[Row, ...]], ...]  # (seq, rows)
    eq_deletes: tuple[tuple[int, int, frozenset], ...]  # (seq, col, keys)
    dead: frozenset  # ids removed by positional deletes


class LakeModel:
    """Expected content of every version of the ``lake`` table."""

    def __init__(self) -> None:
        self.version = 0
        self.states = {0: LakeState((), (), frozenset())}

    def _commit(self, state: LakeState) -> int:
        self.version += 1
        self.states[self.version] = state
        return self.version

    def visible(self, version: int | None = None) -> list[Row]:
        st = self.states[self.version if version is None else version]
        out = []
        for seq, rows in st.entries:
            masks = [(c, keys) for s, c, keys in st.eq_deletes if s > seq]
            for r in rows:
                if r[0] in st.dead:
                    continue
                if any(r[c] in keys for c, keys in masks):
                    continue
                out.append(r)
        return out

    def append(self, rows: list[Row]) -> int:
        st = self.states[self.version]
        entry = (self.version + 1, tuple(rows))
        return self._commit(
            LakeState(st.entries + (entry,), st.eq_deletes, st.dead)
        )

    def delete_eq(self, pred: Callable[[Row], bool], col: str) -> int:
        """``LakeTable.delete_where(pred, [col])``: the delete file holds
        the distinct ``col`` values of the visible rows matching pred."""
        c = _COL[col]
        keys = frozenset(r[c] for r in self.visible() if pred(r))
        st = self.states[self.version]
        d = (self.version + 1, c, keys)
        return self._commit(LakeState(st.entries, st.eq_deletes + (d,), st.dead))

    def delete_pos(self, pred: Callable[[Row], bool]) -> int:
        """``LakeTable.delete_where_positional``: exactly the visible
        rows matching pred disappear (ids are unique table-wide)."""
        ids = frozenset(r[0] for r in self.visible() if pred(r))
        st = self.states[self.version]
        return self._commit(LakeState(st.entries, st.eq_deletes, st.dead | ids))

    def rollback(self, to: int) -> int:
        return self._commit(self.states[to])

    def summary(
        self, version: int | None = None, id_range: tuple[int, int] | None = None
    ) -> tuple[int, int, int]:
        """(count, sum of id, sum of val) of the visible rows."""
        rows = self.visible(version)
        if id_range is not None:
            lo, hi = id_range
            rows = [r for r in rows if lo <= r[0] <= hi]
        return len(rows), sum(r[0] for r in rows), sum(r[2] for r in rows)


# -- pyarrow re-read of committed files ---------------------------------------


def parquet_files(entry: dict) -> list[str]:
    if entry.get("paths"):
        return list(entry["paths"])
    out = []
    for root, _, names in os.walk(entry["path"]):
        out += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        ]
    return sorted(out)


def _read_dir(path: str) -> pa.Table:
    return pa.concat_tables(
        [pq.read_table(f) for f in parquet_files({"path": path})]
    )


def _uri_path(p: str) -> str:
    return os.path.abspath(unquote(urlparse(p).path))


def head_version(table_root: str) -> int:
    names = os.listdir(os.path.join(table_root, "snapshots"))
    return max(int(n[1:9]) for n in names if n.endswith(".json"))


def snapshot_path(table_root: str, version: int) -> str:
    return os.path.join(table_root, "snapshots", f"v{version:08d}.json")


def reread_visible(table_root: str, version: int | None = None) -> pa.Table:
    """The rows of ``version`` (default HEAD) as its snapshot entry
    defines them: data files listed from the entry, minus the rows
    masked by positional and equality delete files with a strictly
    higher sequence number."""
    v = head_version(table_root) if version is None else version
    with open(snapshot_path(table_root, v)) as f:
        snap = json.load(f)
    deletes = [(d["seq"], json.loads(d["entry"])) for d in snap["delete_files"]]
    pos_sets: dict[str, list[tuple[int, int]]] = {}
    eq_sets = []
    for seq, meta in deletes:
        t = _read_dir(meta["path"])
        if meta.get("pos"):
            for fp, p in zip(t.column("__f").to_pylist(), t.column("__p").to_pylist()):
                pos_sets.setdefault(_uri_path(fp), []).append((seq, p))
        else:
            cols = meta["cols"]
            keys = set(zip(*[t.column(c).to_pylist() for c in cols]))
            eq_sets.append((seq, cols, keys))
    parts = []
    for entry in snap["data_files"]:
        for path in parquet_files(entry):
            t = pq.read_table(path)
            keep = np.ones(t.num_rows, dtype=bool)
            for seq, p in pos_sets.get(os.path.abspath(path), []):
                if seq > entry["seq"]:
                    keep[p] = False
            for seq, cols, keys in eq_sets:
                if seq > entry["seq"] and keys:
                    vals = zip(*[t.column(c).to_pylist() for c in cols])
                    keep &= np.array([k not in keys for k in vals], dtype=bool)
            parts.append(t.filter(pa.array(keep)))
    return pa.concat_tables(parts) if parts else None
