"""SparkSession factory.

Replaces the reference's scattered session builders
(batch_processing_optimized.py:52-66, streaming_to_minio_fixed.py:30-41,
streaming_to_datalake.py:49-62) with one tuned factory. All of the
reference's optimizer configuration is Catalyst configuration (SURVEY.md §4):
AQE + partition coalescing, Arrow exchange, Kryo. We keep those and add the
scale-oriented knobs a 1000-executor cluster wants (skew-join handling,
shuffle sizing) — harmless in local mode, load-bearing at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition count: ~2-3x total cores is the usual starting point on a
# real cluster; AQE coalesces down at runtime. Locally we match core count so
# tiny SF tests don't pay 200-task overhead.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory() -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: half the host's
    physical memory, at most 48g. A fixed 48g let the JVM grow past a
    15 GB host's memory and be OOM-killed mid-suite."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError):  # no sysconf names on this platform
        return "48g"
    return f"{max(1024, min(48 << 10, phys_mb // 2))}m"


def get_spark(
    app_name: str = "nyc_taxi_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target local[N] testing but every setting is what we would
    ship on a cluster: AQE handles runtime re-planning (partition
    coalescing, skew-join splitting, dynamic broadcast), Arrow keeps any
    Python exchange vectorized, UTC session timezone pins timestamp
    semantics for oracle comparison.
    """
    cpus = _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- Catalyst / AQE (reference: batch_processing_optimized.py:61-62) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # --- shuffle sizing: ~cores locally; AQE coalesces upward/downward ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # --- Arrow for any pandas-UDF exchange (reference: *_optimized.py:64) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- serializer (reference: batch_processing_optimized.py:63) ---
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # --- deterministic timestamps for DuckDB-oracle parity; nanosAsLong
        # lets sources/catalog.load_table read TIMESTAMP(NANOS) columns.
        # Both are the confs load_table sets, so on this session its sets
        # change nothing ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- parquet scan sizing: 128 MiB splits keep 100 TB scans balanced ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast threshold: dims (region/nation/zone lookup) stay broadcast ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
