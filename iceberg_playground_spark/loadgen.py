"""Synthetic load generator (SURVEY.md §2 A15).

The reference ships a 468-line Go generator producing a wide nested
JSON "asset" stream at a rate-limited QPS
(/root/reference/kafka-load-gen/main.go:317-399: 500k events, 10
partitions, global 1000 msg/s limiter, UUID keys). In Spark the
generator IS a query: `spark.range(n)` partitions across executors and
column functions synthesize the payload — no worker pools, no limiter
code (a streaming replay gets its rate from trigger interval × batch
size via `rowsPerSecond` on the `rate` source).

Deterministic by seed: every column derives from `id` through
xxhash64, so two runs (or two scale factors of a run) agree row-for-row
— the property the driver's fixtures rely on and the Go generator's
`rand` lacks. Domain values follow FIXTURES.md §2 (AssetMessage,
abridged); the reference's broker hostnames and SASL credentials are
deliberately NOT reproduced (main.go:318-322,351-352).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ACCOUNTS = ["acct-a", "acct-b", "acct-c"]
_REGIONS = ["us-east-1", "eu-west-1", "ap-south-1"]
_PLATFORMS = ["linux", "windows", "macos"]
_SOURCES = ["scanner-1", "scanner-2", "agent"]


def _pick(options: list[str], key, salt: int):
    """Deterministic element choice via xxhash64(salt, id)."""
    arr = F.array(*[F.lit(o) for o in options])
    idx = F.pmod(F.xxhash64(F.lit(salt), key), F.lit(len(options)))
    return F.element_at(arr, (idx + 1).cast("int"))


def gen_assets(
    spark: SparkSession, n: int, partitions: int = 10
) -> DataFrame:
    """Generate `n` asset rows across `partitions` tasks (the
    reference's 10-partition layout, main.go:327). Columns cover the
    AssetMessage shape classes: scalar ids, timestamps, JSON-in-string
    (networkInterface — main.go:197), array<string>
    (contributingSources), array<struct> (customField1), numerics."""
    base = spark.range(0, n, 1, partitions)
    key = F.col("id")
    ni_json = F.to_json(
        F.struct(
            F.concat(
                F.lit("10."),
                F.pmod(F.xxhash64(F.lit(1), key), 256).cast("string"),
                F.lit("."),
                F.pmod(F.xxhash64(F.lit(2), key), 256).cast("string"),
                F.lit(".1"),
            ).alias("ipAddress"),
            F.lower(F.hex(F.xxhash64(F.lit(3), key))).alias("macAddress"),
            _pick(_REGIONS, key, 4).alias("networkName"),
        )
    )
    custom = F.array(
        F.struct(
            _pick(_SOURCES, key, 5).alias("source"),
            F.array(
                _pick(_PLATFORMS, key, 6), _pick(_ACCOUNTS, key, 7)
            ).alias("values"),
        )
    )
    return base.select(
        F.sha2(key.cast("string"), 256).substr(1, 32).alias("asset_id"),
        key.alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200000000)  # 2024-01-01T00:00:00Z
            + key * 1_000_000
            + F.pmod(F.xxhash64(F.lit(8), key), 1_000_000)
        ).alias("created_time"),
        _pick(_ACCOUNTS, key, 9).alias("account"),
        _pick(_REGIONS, key, 10).alias("cloud_region"),
        _pick(_PLATFORMS, key, 11).alias("platform"),
        ni_json.alias("network_interface"),
        F.array(_pick(_SOURCES, key, 12), _pick(_SOURCES, key, 13)).alias(
            "contributing_sources"
        ),
        custom.alias("custom_field1"),
        (F.pmod(F.xxhash64(F.lit(14), key), 10_000) / 100.0).alias(
            "cpu_usage"
        ),
        (F.pmod(F.xxhash64(F.lit(15), key), 2) == 0).alias("is_active"),
    )

