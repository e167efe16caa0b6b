"""``ingest``: Kafka RecordBatch frames → strict JSON decode → staged
parquet → one snapshot commit per frame, over one growing table.

Unit operation: one frame, from ``kafkawire.decode_record_batch`` to
the committed snapshot.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.compute as pc

import datagen
import models
from harness import closed_loop, task_threads

FRAME_ROWS = 500
FRAME_POOL = 24  # distinct frames; the loop cycles through them
# untimed: frame times still fall for the first ~20 frames of a session
# while the JIT compiles Spark's planner
WARMUP_FRAMES = 16


def _pipeline(spark, ingest, value_rows):
    """Decoded frame values → validated DataFrame of asset columns."""
    from pyspark.sql import functions as F

    raw = spark.createDataFrame(value_rows, "value binary")
    decoded = ingest.strict_json_decode(
        raw.select(F.col("value").cast("string").alias("json")),
        "json",
        datagen.ASSET_DDL,
        datagen.ASSET_REQUIRED,
    )
    observed, check = ingest.validated(decoded)
    return observed.select("_decoded.*"), check


def _make_frames(ctx, kafkawire, loadgen):
    from pyspark.sql import functions as F

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("loadgen.gen"):
        df = loadgen.gen_assets(spark, FRAME_ROWS * FRAME_POOL, task_threads())
        rows = [
            json.loads(r[0])
            for r in df.select(F.to_json(F.struct(*df.columns))).collect()
        ]
    payloads = datagen.asset_payloads(rows, ctx.seed)
    frames, contents = [], []
    for i in range(FRAME_POOL):
        chunk = payloads[i * FRAME_ROWS : (i + 1) * FRAME_ROWS]
        with tr.span("kafkawire.encode"):
            frames.append(
                kafkawire.encode_record_batch(
                    [(str(k).encode(), v) for k, v, _ in chunk],
                    base_offset=i * FRAME_ROWS,
                )
            )
        contents.append(chunk)
    return frames, contents


def _refusal_checks(ctx, kafkawire, ingest, frame, chunk) -> tuple[list[str], int]:
    """The two integrity properties the pipeline promises, checked on
    inputs derived from a real frame: one flipped byte must fail the
    CRC32C check, and a record lacking a required field must fail the
    strict decode's check. Returns the problems and the number of
    frames the strict check refused."""
    problems = []
    corrupt = bytearray(frame)
    corrupt[len(corrupt) // 2] ^= 0x01
    try:
        kafkawire.decode_record_batch(bytes(corrupt))
        problems.append("decode_record_batch accepted a frame with a flipped byte")
    except ValueError as e:
        if "CRC32C" not in str(e):
            problems.append(f"flipped byte refused for another reason: {e}")
    recs = [json.loads(v) for _, v, _ in chunk[:20]]
    del recs[7][datagen.ASSET_REQUIRED[0]]
    bad = kafkawire.encode_record_batch(
        [(None, json.dumps(r).encode()) for r in recs]
    )
    decoded = kafkawire.decode_record_batch(bad)
    out, check = _pipeline(ctx.spark, ingest, [(r.value,) for r in decoded])
    out.write.format("noop").mode("overwrite").save()
    try:
        check()
    except ValueError:
        return problems, 1
    problems.append("strict decode accepted a record without a required field")
    return problems, 0


def run(ctx):
    from iceberg_playground_spark import ingest, kafkawire, loadgen, tables

    spark, tr = ctx.spark, ctx.tracer
    frames, contents = _make_frames(ctx, kafkawire, loadgen)
    with tr.span("ingest.refusal_checks"):
        problems, refused = _refusal_checks(
            ctx, kafkawire, ingest, frames[0], contents[0]
        )

    catalog = tables.LakeCatalog(spark, os.path.join(ctx.tmp, "warehouse"))
    table = catalog.create_table("bench", "assets", datagen.ASSET_DDL)
    committer = tables.BatchedCommitter(table, interval_s=float("inf"))
    committed: list[int] = []  # frame index per committed snapshot

    def frame_op(i: int) -> None:
        k = i % FRAME_POOL
        with tr.span("ingest.frame"):
            with tr.span("kafkawire.decode"):
                recs = kafkawire.decode_record_batch(frames[k])
            with tr.span("ingest.decode"):
                out, check = _pipeline(spark, ingest, [(r.value,) for r in recs])
            with tr.span("tables.stage_append") as s:
                staged = table.stage_append(out)
            with tr.span("ingest.check"):
                check()  # the generated frames hold no violation
            with tr.span("tables.commit"):
                committer.add(staged)
                committer.flush()
        committed.append(k)
        if tr.enabled:
            s["files"] = sum(
                n.endswith(".parquet") and not n.startswith(".")
                for _, _, ns in os.walk(staged)
                for n in ns
            )

    tr.phase = "warmup"
    for i in range(WARMUP_FRAMES):
        frame_op(i)
    tr.phase = "timed"
    timed = closed_loop(frame_op, ctx.seconds, first=WARMUP_FRAMES)
    tr.phase = "check"

    with tr.span("ingest.verify"):
        problems += _verify(table.root, contents, committed)
    snap_bytes = os.path.getsize(
        models.snapshot_path(table.root, models.head_version(table.root))
    )
    extras = {
        "kafkawire.frame_bytes": float(sum(map(len, frames)) / len(frames)),
        "ingest.rows_decoded": float(FRAME_ROWS),
        "ingest.violations": float(refused),
        "tables.snapshot_bytes": float(snap_bytes),
    }
    return timed, len(timed.op_ms), 0, problems, extras


def _verify(root: str, contents, committed: list[int]) -> list[str]:
    """HEAD against the payload model: one snapshot per frame, and the
    pyarrow re-read of HEAD's files holds every row, key and field gap."""
    problems = []
    head = models.head_version(root)
    if head != len(committed):
        problems.append(f"ingest: HEAD is v{head}, {len(committed)} frames committed")
    want_rows = sum(len(contents[k]) for k in committed)
    want_keys = sum(key for k in committed for key, _, _ in contents[k])
    gaps = Counter(g for k in committed for _, _, g in contents[k] if g)
    want_gaps = {f: gaps[f] for f in datagen.ASSET_OPTIONAL_GAPS}
    t = models.reread_visible(root)
    got_keys = pc.sum(t.column("event_id")).as_py()
    if (t.num_rows, got_keys) != (want_rows, want_keys):
        problems.append(
            f"ingest: HEAD holds {t.num_rows} rows / key sum {got_keys}, "
            f"model {want_rows} / {want_keys}"
        )
    got_gaps = {f: t.column(f).null_count for f in datagen.ASSET_OPTIONAL_GAPS}
    if got_gaps != want_gaps:
        problems.append(f"ingest: NULLs per field {got_gaps}, model {want_gaps}")
    return problems
