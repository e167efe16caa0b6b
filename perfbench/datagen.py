"""Seeded inputs for the two workloads.

Everything here is plain Python: the program under test only ever
sees the generated payloads, never the seed.

- ``asset_payloads`` reshapes ``loadgen`` rows into the JSON values of
  the ``ingest`` frames (seeded order, key offset and optional-field
  gaps).
- ``LakeBatches`` yields the ``lake`` append batches and delete
  predicates.
"""

from __future__ import annotations

import json
import random

# -- ingest ------------------------------------------------------------------

# Strict decode refuses a record without these; every other field is
# optional and may be absent (the decode yields NULL for it).
ASSET_REQUIRED = ["asset_id", "event_id", "account"]
ASSET_OPTIONAL_GAPS = ["platform", "cloud_region", "cpu_usage"]
ASSET_DDL = (
    "asset_id string, event_id bigint, created_time timestamp, "
    "account string, cloud_region string, platform string, "
    "network_interface string, contributing_sources array<string>, "
    "custom_field1 array<struct<source:string,values:array<string>>>, "
    "cpu_usage double, is_active boolean"
)


def asset_payloads(
    rows: list[dict], seed: int, gap_share: float = 0.1
) -> list[tuple[int, bytes, str | None]]:
    """(event_id, JSON value, dropped field or None) per asset row.

    The seed shuffles the rows, shifts every ``event_id`` by a
    seed-derived offset, and drops one optional field from about
    ``gap_share`` of the records."""
    rng = random.Random(seed)
    offset = rng.randrange(1, 1 << 40)
    out = []
    for r in rng.sample(rows, len(rows)):
        rec = dict(r)
        rec["event_id"] = int(rec["event_id"]) + offset
        gap = None
        if rng.random() < gap_share:
            gap = rng.choice(ASSET_OPTIONAL_GAPS)
            del rec[gap]
        out.append((rec["event_id"], json.dumps(rec).encode(), gap))
    return out


# -- lake --------------------------------------------------------------------

LAKE_DDL = "id bigint, bucket int, val bigint"
LAKE_BUCKETS = 16


class LakeBatches:
    """Seeded append batches with table-wide unique, increasing ids."""

    def __init__(self, seed: int, rows_per_batch: int):
        self.rng = random.Random(seed)
        self.rows_per_batch = rows_per_batch
        self.next_id = self.rng.randrange(1, 1 << 30)

    def batch(self) -> list[tuple[int, int, int]]:
        n, r = self.rows_per_batch, self.rng
        rows = [
            (self.next_id + i, r.randrange(LAKE_BUCKETS), r.randrange(1000))
            for i in range(n)
        ]
        self.next_id += n
        return rows

    def bucket(self) -> int:
        return self.rng.randrange(LAKE_BUCKETS)
