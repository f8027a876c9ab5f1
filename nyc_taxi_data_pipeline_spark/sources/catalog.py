"""Thin catalog over the lake directories.

The reference models its lake as MinIO buckets (raw/processed/sandbox,
config/datalake.yaml) listed file-by-file (utils/minio_utils.py:30-38) and
read one file at a time in a driver loop (batch_processing_optimized.py:221).
Spark-first replacement: a directory *is* a table — `spark.read.parquet`
takes the glob, plans one distributed scan, and partition pruning/pushdown
apply across the whole fileset (SURVEY.md §2.1 S1/S5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-provided synthetic tables (TESTDATA.md).
TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Event-time columns whose physical encoding has varied across testdata
# generations: TIMESTAMP(NANOS) (vectorized reader rejects it — read as
# long via legacy conf, integer-truncate to micros) or plain micros
# (arrives as TIMESTAMP_NTZ — cast to an instant under the UTC session
# tz). Either way every consumer sees TimestampType with identical UTC
# wall values, matching the DuckDB oracle.
_EVENT_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Analyzed-frame memo, keyed by (application, dir, table). The testdata
# directories are immutable, so the frame built on first touch — whose
# construction pays a driver-side file listing + parquet footer read for
# schema inference — is reusable for every later entry in the same
# session. Over a 190-entry catalog sweep the repeated inference is the
# single largest per-entry fixed cost (~0.1 s x ~400 load_table calls);
# the memo cuts it to 10 (one per table). Keyed by applicationId so a
# restarted session can never see frames from a dead SparkContext.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One distributed parquet scan; Catalyst handles pushdown + pruning."""
    # runtime-settable SQLConfs, set defensively so any caller's session
    # (e.g. the driver's bare session) matches the oracle's UTC semantics:
    # set on EVERY call (not just cache misses) because they are session
    # state read at execution time, and a caller may have changed them.
    # session.get_spark sets both at creation, so on an engine session
    # these sets are no-ops.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _EVENT_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = normalize_event_ts(spark.read.parquet(table_path(sf_dir, name)), name)
    _TABLE_CACHE[key] = df
    return df


def normalize_event_ts(df: DataFrame, name: str) -> DataFrame:
    """Adapt table `name`'s event-time columns (`_EVENT_TS_COLS`) from
    either physical encoding to TimestampType. `df` is a batch or stream
    read of the raw files under load_table's UTC / nanos-as-long confs."""
    for col in _EVENT_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            # integer division — double division loses precision at ns scale
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(df.schema[col].dataType, T.TimestampNTZType):
            # value-preserving under the UTC session tz;
            # streaming watermarks require TimestampType, not NTZ
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each lake table as a temp view so `spark.sql` works as the
    engine's interactive entry point (replaces the reference's Trino layer,
    SURVEY.md §3.3)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
