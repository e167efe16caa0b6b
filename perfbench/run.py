"""Lakehouse benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload {ingest,lake} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The program is imported from the
directory above this one; every file the run writes lives under
``.perfbench_tmp/`` there and is removed at exit, except the span file
of a traced run (``.perfbench_out/``).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (setup_s, op_p50_ms, ops_per_min,
cpu_ms_per_op); with ``--trace 1`` they are the per-layer medians of
span self times and counts. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import harness
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "lake")

# per-layer metric -> span whose median self time it is
SPAN_MS = {
    "session.warmup_ms": "session.warmup",
    "loadgen.gen_ms": "loadgen.gen",
    "kafkawire.encode_ms": "kafkawire.encode",
    "kafkawire.decode_ms": "kafkawire.decode",
    "tables.stage_append_ms": "tables.stage_append",
    "tables.commit_ms": "tables.commit",
    "tables.append_ms": "tables.append",
    "tables.read_plan_ms": "tables.read_plan",
    "tables.read_exec_ms": "tables.read_exec",
    "tables.travel_read_ms": "tables.travel_read",
    "tables.scan_where_ms": "tables.scan_where",
    "tables.delete_where_ms": "tables.delete_where",
}
# per-layer metric -> (span, count recorded on it)
SPAN_COUNTS = {
    "tables.stage_append_jobs": ("tables.stage_append", "jobs"),
    "tables.files_written": ("tables.stage_append", "files"),
    "tables.read_plan_jobs": ("tables.read_plan", "jobs"),
    "tables.read_exec_tasks": ("tables.read_exec", "tasks"),
    "tables.delete_where_jobs": ("tables.delete_where", "jobs"),
}
# per-layer metrics a workload reports itself
WORKLOAD_COUNTS = (
    "kafkawire.frame_bytes",
    "ingest.rows_decoded",
    "ingest.violations",
    "tables.snapshot_bytes",
    "tables.files_kept",
    "tables.files_pruned",
)


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    tmp: str


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_layer(tr, extras: dict, session_start_ms: float, peak_rss_mb: float) -> dict:
    spans.add_self_times(tr.spans)
    m = {
        "session.start_ms": (session_start_ms, "ms"),
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
    }
    for name, span in SPAN_MS.items():
        m[name] = (spans.median_of(tr.spans, span), "ms")
    for name, (span, key) in SPAN_COUNTS.items():
        m[name] = (spans.median_of(tr.spans, span, key), "count")
    commits = sorted(spans.named(tr.spans, "tables.commit"), key=lambda s: s["start_ms"])
    tail = commits[len(commits) - max(1, len(commits) // 10):] if commits else []
    m["tables.commit_ms_last_decile"] = (
        spans.median_of(tail, "tables.commit"), "ms"
    )
    for name in WORKLOAD_COUNTS:
        m[name] = (extras.get(name, 0.0), "bytes" if name.endswith("_bytes") else "count")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def run(args) -> dict:
    t_process = harness.process_start_time()
    harness.pin_environment()
    sys.path.insert(0, ROOT)
    import ingest_workload
    import lake_workload

    workload = {"ingest": ingest_workload, "lake": lake_workload}[args.workload]

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = None
    try:
        a = time.perf_counter()
        spark = harness.start_session(tmp)
        session_start_ms = (time.perf_counter() - a) * 1000.0
        tr = spans.Tracer(spark.sparkContext) if args.trace else spans.NullTracer()
        with tr.span("session.warmup"):
            spark.range(0, 100_000, 1, harness.task_threads()).selectExpr(
                "sum(id)"
            ).collect()
        ctx = Context(spark, tr, args.seed, args.seconds, tmp)
        timed, attempted, failed, problems, extras = workload.run(ctx)
        peak_rss = harness.tree_peak_rss_mb()
        e2e = harness.end_to_end(timed, timed.first_op_wall - t_process)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(tr, extras, session_start_ms, peak_rss)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            tr.write(path, {"workload": args.workload, "seed": args.seed,
                            "traced_end_to_end": e2e})
            print(f"spans: {path}", file=sys.stderr)
        else:
            metrics = e2e
        print(f"end-to-end ({'traced' if args.trace else 'untraced'}): "
              f"{json.dumps(e2e)}; op_ms {[round(x) for x in timed.op_ms]}",
              file=sys.stderr)
        return {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # still holds another run's dir
            os.rmdir(base)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_playground_spark")):
        print(f"program not found: no iceberg_playground_spark/ under {ROOT}",
              file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
