"""SparkSession factory.

The reference connects a Rust client to a REST catalog + MinIO
(``/root/reference/src/main.rs:22-38``, ``docker-compose.yml:5-43``) and
delegates queries to a bundled spark-iceberg service
(``docker-compose.yml:58-81``). Here the session IS the engine: one
builder, tuned so the same code runs on local[32] for tests and on a
multi-executor cluster unchanged.

Scale posture (100 TB): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized by env, UTC session
timezone pinned for deterministic timestamp semantics, Arrow enabled for
the pandas-UDF edges. If an Iceberg Spark runtime jar is on the
classpath, the ``lake`` catalog is configured (Hadoop catalog on a local
warehouse standing in for REST+MinIO); otherwise the pure-PySpark
lakehouse layer in ``tables.py`` provides the same semantics.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _iceberg_jar_present() -> bool:
    """True if an iceberg-spark-runtime jar is on the pyspark classpath."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))
    except Exception:
        return False


def get_spark(
    app_name: str = "iceberg-playground-spark",
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Env knobs:
      SPARK_GRAFT_CPUS — local parallelism (default 32).
      SPARK_GRAFT_SHUFFLE_PARTITIONS — shuffle width (default = cpus).
      SPARK_GRAFT_DRIVER_MEM — driver memory for local mode (default 16g).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    b = SparkSession.builder.appName(app_name)
    # Master resolution: SPARK_GRAFT_MASTER overrides (set it to "" to
    # defer entirely to spark-submit/--master on a cluster); the local[n]
    # default only applies in the sandbox where nothing else set one.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet stores timestamp[ns], which Spark's parquet reader
        # rejects (PARQUET_TYPE_ILLEGAL). Read nanos as LONG and convert to
        # a µs TIMESTAMP in load() — same truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )

    if _iceberg_jar_present():
        wh = warehouse or os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/ips_warehouse"
        )
        b = (
            b.config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.lake.type", "hadoop")
            .config("spark.sql.catalog.lake.warehouse", wh)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
        )

    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)

    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str):
    """Scan one test table (columnar parquet scan; Catalyst prunes/pushes).

    ``events.ts`` has shipped as parquet timestamp[ns] (scans as LONG
    nanoseconds under ``nanosAsLong``; converted to a µs timestamp_ntz
    column-side — identical truncation to DuckDB's ns→µs read) or as
    timestamp[us] (scans as timestamp_ntz directly); branch on the
    observed dtype so both encodings read identically.
    """
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            # integer div: ns values (~1.7e18) exceed double's 53-bit mantissa
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for SQL-form operators)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
