"""The benchmark's own correctness models, checked without Spark."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import models
import spans


def test_equality_delete_is_sequence_scoped():
    m = models.LakeModel()
    m.append([(1, 0, 10), (2, 1, 20)])
    m.delete_eq(lambda r: r[1] == 0, "bucket")
    v_after_delete = m.version
    m.append([(3, 0, 30)])  # same key, newer sequence: stays visible
    assert m.summary() == (2, 5, 50)
    assert m.summary(v_after_delete) == (1, 2, 20)
    assert m.summary(1) == (2, 3, 30)


def test_equality_delete_keys_come_from_visible_rows():
    m = models.LakeModel()
    m.append([(1, 0, 5), (2, 1, 500)])
    m.delete_eq(lambda r: r[2] < 100, "bucket")  # masks bucket 0 only
    m.append([(3, 1, 7)])
    assert sorted(m.visible()) == [(2, 1, 500), (3, 1, 7)]


def test_positional_delete_and_rollback():
    m = models.LakeModel()
    m.append([(1, 0, 1), (2, 0, 99)])
    m.delete_pos(lambda r: r[2] < 50)
    base = m.version
    m.append([(3, 0, 1)])  # a later row matching the old predicate stays
    m.delete_eq(lambda r: r[1] == 0, "bucket")
    assert m.summary() == (0, 0, 0)
    m.rollback(base)
    assert m.version == base + 3
    assert m.visible() == [(2, 0, 99)]
    assert m.summary(id_range=(2, 2)) == (1, 2, 99)


def _write_table(root: str) -> None:
    """A two-entry table in the program's on-disk layout, with an
    equality delete between the entries and a positional delete after."""
    for d in ("snapshots", "data/a", "data/b", "deletes/eq", "deletes/pos"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    a = os.path.join(root, "data/a/part-0.parquet")
    b = os.path.join(root, "data/b/part-0.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3], "bucket": [0, 1, 0]}), a)
    pq.write_table(pa.table({"id": [4, 5], "bucket": [0, 1]}), b)
    pq.write_table(pa.table({"bucket": [0]}), os.path.join(root, "deletes/eq/p.parquet"))
    pq.write_table(
        pa.table({"__f": ["file:" + b], "__p": pa.array([1], pa.int64())}),
        os.path.join(root, "deletes/pos/p.parquet"),
    )
    eq = {"entry": json.dumps({"path": os.path.join(root, "deletes/eq"), "cols": ["bucket"]}), "seq": 2}
    pos = {"entry": json.dumps({"path": os.path.join(root, "deletes/pos"), "pos": True}), "seq": 4}
    da = {"path": os.path.join(root, "data/a"), "seq": 1}
    db = {"path": os.path.join(root, "data/b"), "seq": 3}
    snaps = {
        1: ([da], []),
        2: ([da], [eq]),
        3: ([da, db], [eq]),
        4: ([da, db], [eq, pos]),
    }
    for v, (data, dels) in snaps.items():
        with open(models.snapshot_path(root, v), "w") as f:
            json.dump({"version": v, "data_files": data, "delete_files": dels}, f)


def test_reread_applies_deletes_by_sequence(tmp_path):
    root = str(tmp_path / "t")
    _write_table(root)
    assert models.head_version(root) == 4
    ids = lambda v: sorted(models.reread_visible(root, v).column("id").to_pylist())
    assert ids(1) == [1, 2, 3]
    assert ids(2) == [2]
    assert ids(3) == [2, 4, 5]  # the delete predates entry b
    assert ids(None) == [2, 4]


def test_self_time_subtracts_children():
    s = [
        {"id": 0, "parent": None, "start_ms": 0.0, "end_ms": 10.0},
        {"id": 1, "parent": 0, "start_ms": 1.0, "end_ms": 4.0},
        {"id": 2, "parent": 0, "start_ms": 5.0, "end_ms": 9.0},
        {"id": 3, "parent": 2, "start_ms": 6.0, "end_ms": 7.0},
    ]
    spans.add_self_times(s)
    assert [x["self_ms"] for x in s] == [3.0, 3.0, 3.0, 1.0]


def test_inputs_follow_the_seed():
    def lake(seed):
        g = datagen.LakeBatches(seed, 50)
        return [g.batch(), g.bucket(), g.batch()]

    assert lake(7) == lake(7) and lake(7) != lake(8)
    ids = [r[0] for b in (lake(7)[0], lake(7)[2]) for r in b]
    assert ids == list(range(ids[0], ids[0] + 100))
    rows = [{"asset_id": "a", "event_id": i, "account": "x", "platform": "p",
             "cloud_region": "r", "cpu_usage": 1.0} for i in range(200)]
    p1, p2 = datagen.asset_payloads(rows, 3), datagen.asset_payloads(rows, 3)
    assert p1 == p2 and p1 != datagen.asset_payloads(rows, 4)
    for key, value, gap in p1:
        rec = json.loads(value)
        assert rec["event_id"] == key
        assert (gap is None) == all(f in rec for f in datagen.ASSET_OPTIONAL_GAPS)
    assert any(gap for _, _, gap in p1)
