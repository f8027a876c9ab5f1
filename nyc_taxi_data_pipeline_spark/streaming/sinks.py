"""Streaming sources/sinks and run harnesses (SURVEY.md §2.9 ST1-ST7).

The reference's streaming jobs are Kafka → parquet with processing-time
partitioning, append mode, checkpointing, and a rate cap
(streaming_to_minio_fixed.py:46-77). Those translate 1:1; what we add is
the watermark/window surface the reference never used and a deterministic
test harness (processAllAvailable instead of wall-clock awaitTermination).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def read_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 100,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S6: Kafka source with the reference's exact option surface
    (streaming_to_minio_fixed.py:46-53). Requires the kafka connector jar."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] | None = ("date_partition",),
    trigger_seconds: int | None = 10,
    output_mode: str = "append",
) -> StreamingQuery:
    """S10/ST1-ST3/ST6: partitioned parquet sink with checkpointing
    (streaming_to_minio_fixed.py:70-77)."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data watermark —
    the stateful-streaming surface the reference lacks (SURVEY.md §2.9
    closing note). Works on a stream (incremental state) or batch frame
    (plain group-by) with the same code."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def run_stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Bounded run of the reference's production sink shape (S10/ST6/ST7):
    partitioned parquet + checkpoint, drained with processAllAvailable,
    then the sink is re-read as a batch frame (the reference's write-then-
    read-back verify, streaming_to_minio_fixed.py:86-104, made
    deterministic)."""
    drain(
        write_stream_parquet(
            df, path, checkpoint, partition_by=partition_by, trigger_seconds=None
        )
    )
    return df.sparkSession.read.parquet(path)


def run_stream_upsert_parquet(
    stream: DataFrame,
    zone: str,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """foreachBatch upsert: every micro-batch MERGEs into a keyed versioned
    zone (sources/io), keeping the newest row per key by (order_col,
    tiebreak_col).

    Plain parquet can't transactionally overwrite a path it is reading, so
    each merge reads the zone's current snapshot and commits the merged
    one as the next version through the zone's commit log — the shape
    Delta's MERGE provides natively (swap this body for `DeltaTable.merge`
    when delta-spark is on the classpath). A run on a non-empty zone
    merges into what earlier runs committed. Keep-latest is by EVENT TIME,
    not batch arrival, so the final state is deterministic under any
    micro-batch split. Returns the latest committed version as a batch
    frame."""
    from pyspark.sql import Window as W

    from nyc_taxi_data_pipeline_spark.sources.io import (
        current_zone_version,
        publish_zone_version,
        read_zone_snapshot,
    )

    def merge(batch: DataFrame, batch_id: int) -> None:
        base = current_zone_version(zone)
        merged = batch
        if base is not None:
            snapshot = read_zone_snapshot(batch.sparkSession, zone, base)
            merged = snapshot.unionByName(batch)
        w = W.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), F.col(tiebreak_col).desc()
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        publish_zone_version(latest, zone, -1 if base is None else base)

    drain(stream.writeStream.foreachBatch(merge).outputMode("update").start())
    return read_zone_snapshot(stream.sparkSession, zone)


def drain(query: StreamingQuery) -> None:
    """Run a started query until it has processed all available input,
    then stop it — the deterministic stand-in for the reference's
    wall-clock awaitTermination(60)."""
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def run_stream_to_memory(df: DataFrame, output_mode: str | None = None) -> DataFrame:
    """ST7 harness, determinism-fixed: drain all available input into a
    memory sink (under a query name of its own), stop, and return the sink
    as a batch frame — replaces the reference's wall-clock
    awaitTermination(60) + read-back pattern. The frame is resolved before
    the sink's temp view is dropped, so the caller's view list is left as
    it was and the frame still reads the sink.

    `spark.sql.shuffle.partitions` is pinned to 2 while the query starts
    and then restored (or unset, if the caller had not set it); the width
    is read once at query START, so it cannot leak into the query after
    the restore. A stateful query instantiates one state store per shuffle
    partition PER stateful operator (a stream-stream join runs four), so
    state width must be sized to key cardinality and throughput, and
    inheriting a batch session's wide shuffle default just multiplies
    state-store open/commit overhead. Results are identical at any width.
    Width 2 fits this catalog's drains: every offset_log proof is a bounded
    log (1-4 topic-partitions, <= ~120 keys of state), so two stores per
    stateful op already over-provision the key space, and the real cost
    of width is not the per-batch commits alone but the executor-side
    provider cache — loadedProviders retains partitions x ops stores per
    QUERY, and the 60 s maintenance sweep walks all of them, so a
    16-entry suite at width 8 accumulates hundreds of providers (family
    sum of warm mins 76 s at 8 vs 43 s at 2, values identical). The pin
    is session-wide while it lasts, which is why stream entries never
    build beside other builders (`Query.stream`).

    `output_mode` overrides the default (complete for aggregations,
    append otherwise) — pass "append" for a watermarked aggregation whose
    point IS append semantics (closed-window emission, late-row drop),
    "update" for an arbitrary-stateful operator's running emissions."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex}"
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(
                output_mode
                or ("complete" if _has_aggregation(df) else "append")
            )
            .start()
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    drain(q)
    sink = spark.table(name)
    spark.catalog.dropTempView(name)
    return sink


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return "Aggregate" in plan


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    right rows within [left_ts, left_ts + max_delay) for the same key —
    the click→purchase attribution shape. Both sides carry watermarks so
    Spark can bound the join state: left rows are dropped from state once
    the right watermark passes left_ts + max_delay, right rows once the
    left watermark passes right_ts (the time-range condition gives the
    planner both eviction bounds — without it state grows forever, the
    100 TB failure mode). Works identically on batch frames (plain
    interval equi-join) for oracle parity."""
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] < lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner")
