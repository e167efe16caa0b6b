"""``lake``: small writes and three reads over a table with history.

Set-up builds the history: appends, equality deletes and one
positional delete. A round is ``ROUND`` timed iterations. Each appends
one batch and reads the table three ways: a HEAD aggregate, the same
aggregate ``VERSION AS OF`` a fixed earlier version, and a bounds-
pruned ``scan_where``. The round's last iteration also runs an
equality delete (before its reads) and then rolls the table back to
the set-up HEAD, so every round starts from the same snapshot.

Unit operation: one iteration.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc

import datagen
import models
from harness import closed_loop

ROWS_PER_BATCH = 200
HISTORY_APPENDS = 4
EQ_DELETE_AFTER = (2, 4)  # history appends followed by an equality delete
POS_DELETE_AFTER = 3  # ... and the one followed by the positional delete
TRAVEL_AFTER = 3  # time travel reads the version after this append's step
POS_PREDICATE = ("val < 25", lambda r: r[2] < 25)
ROUND = 6  # the last iteration of a round also deletes
WARMUP_ITERATIONS = 3  # plain iterations, rolled back before timing


def _agg(df):
    from pyspark.sql import functions as F

    r = df.agg(F.count("*"), F.sum("id"), F.sum("val")).collect()[0]
    return (r[0], r[1] or 0, r[2] or 0)


def run(ctx):
    from iceberg_playground_spark import tables

    spark, tr = ctx.spark, ctx.tracer
    gen = datagen.LakeBatches(ctx.seed, ROWS_PER_BATCH)
    model = models.LakeModel()
    catalog = tables.LakeCatalog(spark, os.path.join(ctx.tmp, "warehouse"))
    table = catalog.create_table("bench", "lake", datagen.LAKE_DDL)

    def append() -> None:
        rows = gen.batch()
        with tr.span("lake.make_batch"):
            df = spark.createDataFrame(rows, datagen.LAKE_DDL)
        with tr.span("tables.append"):
            table.append(df)
        model.append(rows)

    def delete_eq() -> None:
        b = gen.bucket()
        with tr.span("tables.delete_where"):
            table.delete_where(f"bucket = {b}", ["bucket"])
        model.delete_eq(lambda r: r[1] == b, "bucket")

    first_ids, travel_v = [], None
    with tr.span("lake.build"):
        for i in range(1, HISTORY_APPENDS + 1):
            first_ids.append(gen.next_id)
            append()
            if i in EQ_DELETE_AFTER:
                delete_eq()
            if i == POS_DELETE_AFTER:
                with tr.span("tables.delete_where_positional"):
                    table.delete_where_positional(POS_PREDICATE[0])
                model.delete_pos(POS_PREDICATE[1])
            if i == TRAVEL_AFTER:
                travel_v = model.version
    base_v = model.version
    # the second and third history batches: pruning keeps their files
    scan = (first_ids[1], first_ids[3] - 1)
    seen = []  # (what, model version, got)

    def rollback() -> None:
        with tr.span("tables.rollback"):
            table.rollback(base_v)
        model.rollback(base_v)

    def iteration(i: int) -> None:
        last = i % ROUND == ROUND - 1
        append()
        if last:
            delete_eq()
        with tr.span("tables.read_plan"):
            df = table.read()
        with tr.span("tables.read_exec"):
            seen.append(("head", model.version, _agg(df)))
        with tr.span("tables.travel_read"):
            seen.append(("travel", travel_v, _agg(table.read(version=travel_v))))
        with tr.span("tables.scan_where"):
            got = _agg(table.scan_where("id", scan[0], scan[1]))
            seen.append(("scan", model.version, got))
        if last:
            rollback()

    # the build already ran appends and deletes; warm the three reads
    tr.phase = "warmup"
    for i in range(WARMUP_ITERATIONS):
        iteration(i)
    rollback()
    tr.phase = "timed"
    timed = closed_loop(iteration, ctx.seconds, round_len=ROUND)
    tr.phase = "check"

    problems = []
    for what, v, got in seen:
        want = model.summary(v, scan if what == "scan" else None)
        if got != want:
            problems.append(f"lake {what} read at v{v}: {got}, model {want}")
    for v in (model.version, travel_v):
        t = models.reread_visible(table.root, v)
        got = (t.num_rows, pc.sum(t["id"]).as_py(), pc.sum(t["val"]).as_py())
        if got != model.summary(v):
            problems.append(f"lake pyarrow re-read v{v}: {got}, model {model.summary(v)}")
    extras = {}
    if tr.enabled:
        kept, pruned = table.plan_files("id", scan[0], scan[1])
        extras["tables.files_kept"] = float(
            sum(len(models.parquet_files(e)) for e in kept)
        )
        extras["tables.files_pruned"] = float(pruned)
        extras["tables.snapshot_bytes"] = float(
            os.path.getsize(models.snapshot_path(table.root, model.version))
        )
    return timed, len(timed.op_ms), 0, problems, extras
