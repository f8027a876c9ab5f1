"""Shared pre-measurement session warm-up (bench.py + `tools/entries.py time`).

One implementation of the warm-up ladder the bench grew over rounds 5-8,
so the two consumers cannot drift (a warm timer that lacked the
pandas-lane warm-up charged pandas-API entries their first-touch worker
spawn). Everything here runs OUTSIDE any
timed region and amortizes one-time engine costs that belong to the
lake/session, not to any entry:

- one full hash-scan of every lake table (parquet decode paths + OS page
  cache) plus a tiny groupBy and broadcast join (shuffle machinery,
  broadcast thread pool, join codegen);
- one 64-doc compile of the explode+substring+hashagg+window shapes
  (registry index 0, charlm, otherwise pays ~2 s of first-pass codegen);
- one fully drained trivial offset_log stream (Python streaming-source
  runner spawn, StreamExecution/checkpoint machinery, stateful-agg +
  memory-sink codegen);
- one N-partition trivial mapInPandas with `import numpy` inside (fills
  the reused executor Python worker pool with numpy-loaded workers).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def warm_session(spark, sf_dir: str, pandas_workers: int | None = None) -> None:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nyc_taxi_data_pipeline_spark.sources.catalog import TABLES, load_table
    from nyc_taxi_data_pipeline_spark.sources.pydatasource import (
        register_offset_log,
    )
    from nyc_taxi_data_pipeline_spark.streaming.sinks import run_stream_to_memory

    # lake scan + shuffle/broadcast machinery
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.select(F.sum(F.hash(*df.columns)).alias("h")).count()
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    nat.join(
        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
    ).groupBy("r_name").count().count()

    # codegen shapes of registry index 0 (charlm) on a 64-doc slice
    docs64 = load_table(spark, sf_dir, "documents").limit(64)
    tri = docs64.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
        "text",
    ).select("doc_id", F.expr("substring(text, i, 3)").alias("g"))
    model = tri.groupBy("g").count()
    tri.join(F.broadcast(model), "g").groupBy("doc_id").count().select(
        F.row_number().over(W.partitionBy().orderBy("doc_id")).alias("r")
    ).count()

    # streaming machinery: one trivial fully-drained offset_log stream
    register_offset_log(spark)
    warm_stream = (
        spark.readStream.format("offset_log")
        .option("partitions", 1)
        .option("n_rows", 10)
        .option("rows_per_batch", 10)
        .load()
        .groupBy("user_id")
        .count()
    )
    run_stream_to_memory(warm_stream).count()

    # Arrow/pandas executor lane: fill the reused-worker pool with
    # numpy-loaded workers (one per core)
    def _warm_pandas(it):
        import numpy  # noqa: F401 — the import IS the warm-up

        for pdf in it:
            yield pdf

    n_workers = pandas_workers or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(0, n_workers, 1, n_workers).mapInPandas(
        _warm_pandas, "id long"
    ).count()
