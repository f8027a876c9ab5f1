"""Streaming semantics that the single-file catalog queries can't prove:
state carried across MULTIPLE micro-batches, and rate-limited triggers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_4_files(spark, tmp_path_factory):
    """The events table split into 4 parquet files so maxFilesPerTrigger=1
    forces 4 distinct micro-batches."""
    path = str(tmp_path_factory.mktemp("events_split"))
    load_table(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def test_stateful_stats_across_micro_batches(spark, events_4_files):
    """running_user_stats must converge to the batch aggregate no matter how
    the input is chopped into micro-batches — state is the carrier."""
    import uuid

    from nyc_taxi_data_pipeline_spark.streaming.stateful import running_user_stats

    batch = load_table(spark, SF, "events")
    schema = spark.read.parquet(events_4_files).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_4_files)
    )
    stats = running_user_stats(stream)
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = stats.writeStream.format("memory").queryName(name).outputMode("update").start()
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    # final state per key (accumulators are monotone, values > 0)
    final = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 2))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert final == expected


def test_transform_with_state_v2_across_micro_batches(spark, events_4_files):
    """State-v2 API (transformWithStateInPandas + RocksDB store) must
    converge to the batch aggregate across micro-batches. Final state is
    recovered by argmax-over-count — valid even for negative values, unlike
    the max() collapse the v1 test uses.

    Gated: the transformWithState Python worker speaks protobuf to the JVM
    state server; without the protobuf package the worker crashes at init
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Same env-gate
    pattern as Delta (no jars) and Kafka (no broker)."""
    import uuid

    pytest.importorskip("google.protobuf", reason="transformWithState worker needs protobuf")

    from nyc_taxi_data_pipeline_spark.streaming.stateful import transform_running_stats

    prev = spark.conf.get("spark.sql.streaming.stateStoreProviderClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStoreProviderClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(events_4_files).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_4_files)
        )
        stats = transform_running_stats(stream)
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = stats.writeStream.format("memory").queryName(name).outputMode("update").start()
        try:
            q.processAllAvailable()
            n_batches = len(q.recentProgress)
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStoreProviderClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStoreProviderClass", prev)
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    final = {
        r["s"]["user_id"]: (
            r["s"]["n_events"],
            round(r["s"]["total_value"], 2),
            round(r["s"]["min_value"], 2),
            round(r["s"]["max_value"], 2),
        )
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "user_id", "total_value", "min_value", "max_value")
            ).alias("s")
        )
        .collect()
    }
    batch = load_table(spark, SF, "events")
    expected = {
        r["user_id"]: (
            r["n"],
            round(r["tv"], 2),
            round(r["mn"], 2),
            round(r["mx"], 2),
        )
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("tv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert final == expected


def test_transform_with_state_v2_plan_construction(spark, events_4_files):
    """Plan construction + analysis for the state-v2 operator must work even
    where execution is env-gated (no protobuf): the unresolved plan is built
    JVM-side and the output schema is fixed by the operator contract."""
    from nyc_taxi_data_pipeline_spark.streaming.stateful import (
        TWS_STATS_SCHEMA,
        transform_running_stats,
    )

    schema = spark.read.parquet(events_4_files).schema
    stream = spark.readStream.schema(schema).parquet(events_4_files)
    out = transform_running_stats(stream)
    assert out.isStreaming
    assert out.schema == TWS_STATS_SCHEMA


def test_foreachbatch_upsert_converges_across_batches(spark, events_4_files, tmp_path):
    """The versioned upsert zone must end at the same per-key latest state
    whether the stream arrives as one batch or four — and a second run on
    the same zone must merge into what the first run committed."""
    from pyspark.sql import Window as W

    from nyc_taxi_data_pipeline_spark.sources.io import current_zone_version
    from nyc_taxi_data_pipeline_spark.streaming.sinks import run_stream_upsert_parquet

    schema = spark.read.parquet(events_4_files).schema
    zone = str(tmp_path / "zone")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def upsert_run(path):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        final = run_stream_upsert_parquet(
            stream, zone, key_cols=["user_id"], order_col="ts", tiebreak_col="event_id"
        )
        return sorted(
            (r["user_id"], r["event_id"])
            for r in final.select("user_id", "event_id").collect()
        )

    def latest(events):
        batch = events.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        return sorted((r["user_id"], r["event_id"]) for r in batch.collect())

    events = spark.read.parquet(events_4_files)
    assert upsert_run(events_4_files) == latest(events)
    first_version = current_zone_version(zone)

    # newer events for every 7th user, streamed into the same zone
    more = str(tmp_path / "more")
    newer = (
        events.filter(F.col("user_id") % 7 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
        .withColumn("event_id", F.col("event_id") + 1_000_000_000)
    )
    assert newer.count() > 0
    newer.write.parquet(more)
    assert upsert_run(more) == latest(events.unionByName(spark.read.parquet(more)))
    assert current_zone_version(zone) > first_version


def test_windowed_counts_stream_equals_batch(spark, events_4_files):
    """The same windowed_counts code must give identical results run as a
    multi-batch stream or as a batch frame (SURVEY.md §2.9 extension)."""
    from nyc_taxi_data_pipeline_spark.streaming.sinks import (
        run_stream_to_memory,
        windowed_counts,
    )

    schema = spark.read.parquet(events_4_files).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_4_files)
    )
    streamed = run_stream_to_memory(windowed_counts(stream, window="6 hours"))
    batch = windowed_counts(spark.read.parquet(events_4_files), window="6 hours")
    key = lambda df: sorted(
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in df.collect()
    )
    assert key(streamed) == key(batch)


def test_watermark_drops_too_late_rows(spark, tmp_path):
    """Late-data policy must actually fire: an event older than
    (max event time seen − watermark) arriving in a LATER micro-batch is
    dropped from the windowed aggregation, while the same data in batch
    (no watermark) counts it. Files are written between drains so the
    micro-batch order is deterministic."""
    import uuid

    from nyc_taxi_data_pipeline_spark.streaming.sinks import windowed_counts

    from datetime import datetime

    sch = "ts timestamp, event_type string, value double"
    t = lambda h, m: datetime(2024, 1, 1, h, m)
    on_time = spark.createDataFrame(
        [
            (t(10, 5), "click", 1.0),
            (t(10, 20), "click", 2.0),
            (t(12, 10), "click", 4.0),  # advances watermark to 10:10
        ],
        sch,
    )
    late = spark.createDataFrame(
        [
            (t(8, 30), "click", 8.0),   # < 10:10 watermark → DROPPED
            (t(11, 45), "click", 16.0),  # >= watermark → kept
        ],
        sch,
    )
    src = str(tmp_path / "src")
    on_time.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(on_time.schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("update").start()
    try:
        q.processAllAvailable()          # batch 1: watermark advances to 12:10 - 2h
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()          # batch 2: 08:30 row is behind the watermark
    finally:
        q.stop()

    streamed = {
        r["window_start"]: (r["s"]["n_events"], r["s"]["total_value"])
        for r in spark.table(name)
        .groupBy("window_start")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .collect()
    }
    total_streamed = sum(v[1] for v in streamed.values())
    batch = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in windowed_counts(
            spark.read.parquet(src), window="1 hour", watermark="2 hours"
        ).collect()
    }
    total_batch = sum(v[1] for v in batch.values())
    # the dropped row's value (8.0) is the exact difference
    assert total_batch - total_streamed == 8.0, (streamed, batch)
    # and the kept-late row landed in its window
    kept_win = datetime(2024, 1, 1, 11, 0)
    assert streamed[kept_win] == (1, 16.0)


def test_checkpoint_restart_exactly_once(spark, events_4_files, tmp_path):
    """ST3's real contract: kill a streaming query mid-stream and restart it
    from the SAME checkpoint — the parquet sink must end with every input
    row exactly once (no loss from the kill, no duplicates from the
    restart replaying a committed batch)."""
    import time

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(events_4_files).schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_4_files)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while not q.recentProgress and time.time() < deadline:
            time.sleep(0.2)
        assert q.recentProgress, "no micro-batch committed before the kill"
    finally:
        q.stop()  # kill mid-stream: some of the 4 files are still unread

    q2 = start()
    try:
        q2.processAllAvailable()
        n_batches_after_restart = len(q2.recentProgress)
    finally:
        q2.stop()
    assert n_batches_after_restart >= 1, "restart did not resume from checkpoint"

    got = sorted(
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(sink).select("event_id", "user_id").collect()
    )
    want = sorted(
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(events_4_files).select("event_id", "user_id").collect()
    )
    assert got == want, (
        f"exactly-once violated: {len(got)} sink rows vs {len(want)} input rows"
    )


def test_stream_stream_join_state_actually_evicts(spark, tmp_path):
    """The watermark claim made real: feed three micro-batches whose event
    times advance far past the watermark delay and assert the join state
    store DROPS old rows (numRowsTotal well below total input) — unbounded
    state is the 100 TB failure mode the interval condition exists to
    prevent."""
    import os
    import time
    import uuid

    from pyspark.sql import functions as F

    from nyc_taxi_data_pipeline_spark.streaming.sinks import (
        stream_stream_interval_join,
    )

    ldir, rdir = str(tmp_path / "left"), str(tmp_path / "right")
    base = 1_700_000_000
    rows_per_batch = 50

    def write_batch(i: int) -> None:
        # batches are 2h apart; watermark delay is 10min, join window 5min
        t0 = base + i * 7200
        df = spark.range(rows_per_batch).select(
            (F.col("id") + i * 1000).alias("event_id"),
            (F.col("id") % 5).alias("user_id"),
            F.timestamp_seconds(F.col("id") + t0).alias("ts"),
        )
        df.coalesce(1).write.mode("append").parquet(ldir)
        df.select(
            F.col("event_id").alias("r_event_id"),
            "user_id",
            F.col("ts").alias("rts"),
        ).coalesce(1).write.mode("append").parquet(rdir)
        # file source orders by modification time; make it strictly increasing
        now = time.time() + i
        for d in (ldir, rdir):
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now, now))

    write_batch(0)
    schema_l = "event_id long, user_id long, ts timestamp"
    schema_r = "r_event_id long, user_id long, rts timestamp"
    left = (
        spark.readStream.schema(schema_l).format("parquet")
        .option("maxFilesPerTrigger", 1).load(ldir)
    )
    right = (
        spark.readStream.schema(schema_r).format("parquet")
        .option("maxFilesPerTrigger", 1).load(rdir)
    )
    joined = stream_stream_interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="rts",
        max_delay="5 minutes", watermark="10 minutes",
    )
    name = f"evict_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        write_batch(1)
        q.processAllAvailable()
        write_batch(2)
        q.processAllAvailable()
        # one more empty-ish pass lets the store apply the final watermark
        write_batch(3)
        q.processAllAvailable()
        progress = q.lastProgress
        state = progress["stateOperators"][0]
        total_fed = 2 * 4 * rows_per_batch
        assert state["numRowsTotal"] < total_fed, state
        # every batch joins within itself (same ts both sides), so output grew
        assert spark.table(name).count() >= 4 * rows_per_batch
    finally:
        q.stop()


def test_streaming_session_window_emits_closed_sessions(spark, tmp_path):
    """Event-time session windows in a STREAM: append mode must emit
    exactly the sessions the watermark has closed, with the same
    (start, end, count) a batch sessionization computes — the §2.9
    extension the reference's processing-time-only pipeline never
    attempts. Four micro-batches 2h apart; after the 4th, the watermark
    has sealed the first three batches (the 4th's own sessions stay
    open — no later event time has passed them); processAllAvailable's
    flush batches apply each file's watermark as it lands."""
    import os
    import time
    import uuid

    src = str(tmp_path / "src")
    base = 1_700_000_000
    n_users, n_ev = 3, 5

    def write_batch(i: int) -> None:
        t0 = base + i * 7200
        df = spark.range(n_users * n_ev).select(
            (F.col("id") % n_users).alias("user_id"),
            F.timestamp_seconds((F.col("id") / n_users).cast("int") * 60 + t0).alias("ts"),
        )
        df.coalesce(1).write.mode("append").parquet(src)
        now = time.time() + i
        for f in os.listdir(src):
            os.utime(os.path.join(src, f), (now, now))

    for i in range(2):
        write_batch(i)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("start"),
                F.col("w.end").alias("end"), "n_events")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        write_batch(2)
        q.processAllAvailable()
        write_batch(3)
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], r["start"], r["end"], r["n_events"])
            for r in spark.table(name).collect()
        )
    finally:
        q.stop()

    first_two = spark.read.parquet(src).filter(
        F.col("ts") < F.timestamp_seconds(F.lit(base + 3 * 7200))
    )
    want = sorted(
        (r["user_id"], r["start"], r["end"], r["n_events"])
        for r in first_two.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("start"),
                F.col("w.end").alias("end"), "n_events")
        .collect()
    )
    assert want, "batch reference is empty — fixture broken"
    assert got == want, f"closed sessions diverge: got {got[:4]} want {want[:4]}"


def test_stateful_state_survives_checkpoint_restart(spark, events_4_files, tmp_path):
    """Stateful-operator recovery (beyond the sink exactly-once test):
    kill an applyInPandasWithState query after some micro-batches, restart
    from the SAME checkpoint, and the per-key running aggregates must end
    EXACTLY at the batch groupBy totals — state reloaded from the store,
    committed batches not re-applied, uncommitted input not lost."""
    import time

    from nyc_taxi_data_pipeline_spark.streaming.stateful import running_user_stats

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = spark.read.parquet(events_4_files).schema

    # memory sinks don't support checkpoint recovery; foreachBatch does.
    # Batch replay after the kill may duplicate rows — fine here, because
    # the final-state assertion below is max-per-key (idempotent).
    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_4_files)
        )

        def write_batch(bdf, batch_id):
            bdf.write.mode("append").parquet(out)

        return (
            running_user_stats(stream)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while len(q.recentProgress) < 2 and time.time() < deadline:
            time.sleep(0.2)
        assert q.recentProgress, "no micro-batch committed before the kill"
    finally:
        q.stop()  # mid-stream kill

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    batch = load_table(spark, SF, "events")
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 2))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    # the LAST update per key across the whole run is the final state
    final = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .collect()
    }
    # keys fully processed before the kill may not reappear after restart;
    # every key that DOES appear must carry the exact cumulative state
    assert final, "no updates written"
    assert set(final) == set(expected)
    for k, v in final.items():
        assert v == expected[k], f"user {k}: resumed {v} != batch {expected[k]}"


def test_json_corrupt_record_modes(spark, tmp_path):
    """Ingestion fault tolerance (S-surface): PERMISSIVE parsing captures
    malformed rows in _corrupt_record while clean rows parse; FAILFAST
    refuses the batch — the two contracts a 100 TB ingest chooses between
    (quarantine-and-continue vs stop-the-line)."""
    import pytest

    path = str(tmp_path / "raw")
    import os

    os.makedirs(path)
    with open(f"{path}/part-0.json", "w") as f:
        f.write('{"id": 1, "v": 10.5}\n')
        f.write("{not json at all\n")
        f.write('{"id": 2, "v": 20.5}\n')

    schema = "id long, v double, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    rows = permissive.collect()
    good = {r["id"] for r in rows if r["_corrupt_record"] is None}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == {1, 2}
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]

    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        (
            spark.read.schema("id long, v double")
            .option("mode", "FAILFAST")
            .json(path)
            .collect()
        )


def test_rocksdb_state_store_windowed_agg(spark, events_4_files):
    """The production state backend (RocksDBStateStoreProvider — bundled
    with Spark 4, no extra jars) must run the windowed aggregation with
    results identical to the default HDFS-backed store, and its engagement
    is proven by rocksdb* custom metrics in the query progress (a silently
    ignored conf would pass a results-only check). At 100 TB state scale
    RocksDB is the only viable backend — state spills off-heap instead of
    living in executor JVM memory."""
    import uuid

    from nyc_taxi_data_pipeline_spark.streaming.sinks import windowed_counts

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(events_4_files).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_4_files)
        )
        agg = windowed_counts(stream, window="6 hours")
        name = f"rdb_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            progresses = q.recentProgress
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    metrics = [
        m
        for p in progresses
        for op in (p["stateOperators"] or [])
        for m in (op.get("customMetrics") or {})
    ]
    assert any(m.startswith("rocksdb") for m in metrics), metrics

    streamed = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in spark.table(name).collect()
    )
    batch = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in windowed_counts(
            spark.read.parquet(events_4_files), window="6 hours"
        ).collect()
    )
    assert streamed == batch


def test_available_now_trigger_drains_and_terminates(spark, events_4_files):
    """Trigger.AvailableNow (ST1-class): process everything currently in
    the source across rate-limited micro-batches, then stop WITHOUT
    external processAllAvailable/stop choreography — the production shape
    for scheduled incremental jobs (reference runs its batch loop for
    this, SURVEY.md §4 'Incremental/bounded processing'). The query must
    self-terminate with results equal to batch."""
    import uuid

    from nyc_taxi_data_pipeline_spark.streaming.sinks import windowed_counts

    schema = spark.read.parquet(events_4_files).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_4_files)
    )
    agg = windowed_counts(stream, window="6 hours")
    name = f"an_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "availableNow query did not self-terminate"
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert n_batches >= 4, f"maxFilesPerTrigger ignored? {n_batches} batches"

    streamed = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in spark.table(name).collect()
    )
    batch = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in windowed_counts(
            spark.read.parquet(events_4_files), window="6 hours"
        ).collect()
    )
    assert streamed == batch


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark — the state-BOUNDED dedup variant:
    unlike dropDuplicates (whose per-key state lives forever unless the
    event-time column is part of the key), state here is evicted purely
    by watermark, the only shape whose state survives an unbounded
    stream at 100 TB. Duplicate event_ids re-sent in a later micro-batch
    (still inside the watermark) must be dropped; the result equals
    batch distinct-by-id."""
    import uuid

    from pyspark.sql import functions as F

    from nyc_taxi_data_pipeline_spark.sources.catalog import load_table

    base = (
        load_table(spark, SF, "events")
        .select("event_id", "ts", "event_type", "value")
        .limit(200)
    )
    d = str(tmp_path / "dup_feed")
    # file 1: the events; file 2: the SAME events re-sent (pure dups)
    base.coalesce(1).write.mode("overwrite").parquet(d)
    base.coalesce(1).write.mode("append").parquet(d)

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["event_type"]: r["n"] for r in spark.table(name).collect()}
    expected = {
        r["event_type"]: r["n"]
        for r in base.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# offset_log: Kafka-contract streaming source (sources/pydatasource.py)
# ---------------------------------------------------------------------------

def _run_offset_log(spark, n_rows, hwm, ckpt, out):
    from nyc_taxi_data_pipeline_spark.sources.pydatasource import (
        register_offset_log,
    )

    register_offset_log(spark)
    stream = (
        spark.readStream.format("offset_log")
        .option("partitions", 4)
        .option("n_rows", n_rows)
        .option("rows_per_batch", 50)
        .option("hwm_file", hwm)
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        return len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()


def test_offset_log_exactly_once_across_restarts(spark, tmp_path):
    """The Kafka-source execution contract, end to end: paced multi-batch
    drain, restart-with-growth resuming EXACTLY at the committed offset,
    and an idle restart appending nothing — proven through an append-mode
    file sink, which (unlike a complete-mode memory agg) cannot mask
    duplicate or lost ranges."""
    hwm = str(tmp_path / "hwm")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # phase 1: log holds 100 offsets x 4 partitions; 50/batch -> 2 batches
    n_batches = _run_offset_log(spark, 100, hwm, ckpt, out)
    assert n_batches >= 2
    assert spark.read.parquet(out).count() == 400

    # phase 2: the log GREW to 150; a fresh reader instance + the same
    # checkpoint must serve exactly the new [100, 150) range per partition
    _run_offset_log(spark, 150, hwm, ckpt, out)
    df = spark.read.parquet(out)
    assert df.count() == 600
    assert df.select("partition", "offset").distinct().count() == 600

    # phase 3: nothing new — restart must append zero rows
    _run_offset_log(spark, 150, hwm, ckpt, out)
    assert spark.read.parquet(out).count() == 600


def test_offset_log_rate_limit_bounds_every_batch(spark, tmp_path):
    """ST4 backpressure parity (reference maxOffsetsPerTrigger=100,
    streaming_to_minio_fixed.py:52): with max_offsets_per_trigger=90 and
    4 partitions wanting 40 offsets each, every planned micro-batch must
    admit <= 90 TOTAL offsets (proportional split 23/23/22/22 — uneven
    per-partition cursors), the drain must still deliver every offset
    exactly once, and a capped restart must resume without re-serving."""
    from nyc_taxi_data_pipeline_spark.sources.pydatasource import (
        register_offset_log,
    )

    register_offset_log(spark)
    hwm = str(tmp_path / "hwm")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain(n_rows):
        stream = (
            spark.readStream.format("offset_log")
            .option("partitions", 4)
            .option("n_rows", n_rows)
            .option("rows_per_batch", 40)
            .option("max_offsets_per_trigger", 90)
            .option("hwm_file", hwm)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
        finally:
            q.stop()

    sizes = drain(150)
    assert sizes and max(sizes) <= 90
    # 600 total offsets at <=90/batch needs >= 7 batches; the allocator's
    # schedule is six 90s then the 60 tail
    assert sum(sizes) == 600
    assert sorted(sizes, reverse=True)[:6] == [90] * 6
    df = spark.read.parquet(out)
    assert df.count() == 600
    assert df.select("partition", "offset").distinct().count() == 600

    # restart with a grown log: the capped planner must serve exactly the
    # new [150, 180) range per partition, still under the ceiling
    sizes2 = drain(180)
    assert max(sizes2) <= 90
    df2 = spark.read.parquet(out)
    assert df2.count() == 720
    assert df2.select("partition", "offset").distinct().count() == 720


def test_temp_zone_entries_leave_no_directory(spark, tmp_path, monkeypatch):
    """The two stream entries that drain into a temporary directory (the
    partitioned parquet sink and the upsert zone) must remove it before
    their build returns: every catalog pass would otherwise leave two
    directories behind in the system temp dir."""
    import tempfile

    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("streaming_partitioned_sink", "streaming_upsert_latest"):
        assert REGISTRY[name].spark(spark, SF).collect(), name
    assert list(tmp_path.iterdir()) == []
