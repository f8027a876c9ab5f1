"""The reference's batch ELT lifecycle (SURVEY.md §3.1) as ONE composed job
with real zone writes:

    raw trips → processed zone (normalize, partitioned parquet)
              → staging zone  (time dims + A1/A2 aggregate)
              → warehouse zone (6 dims + fact, written concurrently)
              → quality gate on staging

The reference runs this as four processes (python → pandas → Spark → dbt)
with Postgres round-trips between them; here each zone transition is one
lazy Catalyst plan ending in a distributed parquet write. Airflow's task
ordering (elt_pipeline_optimized_dag.py:167-207) becomes plain function
composition — the DAG is the data dependency.

Each zone write is the only action of its step. What the run reports
rides the writes as `df.observe()` metrics (operators.quality.
observe_quality) instead of reading each zone back to count it: the
processed zone is counted as it feeds the staging write, the staging zone
is counted and quality-gated as it feeds the fact write, and each star
table is counted on its own write. On 20k trips that takes a run from
65 Spark jobs to 22: at that size the cost is per job, not per row.

What is left of that fixed cost runs side by side instead of in turn.
The seven star tables share no data dependency (the fact derives its dim
keys in place, joining no dim), so, like dbt's concurrent models, their
writes go out together from a thread pool; each pool target inherits the
caller's job group, local properties and job tags through
`inheritable_thread_target`. Each partitioned zone is written by up to
one task per core instead of one task for the whole zone.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from nyc_taxi_data_pipeline_spark.operators.aggregate import (
    derive_time_dims,
    staging_aggregate,
)
from nyc_taxi_data_pipeline_spark.operators.normalize import normalize
from nyc_taxi_data_pipeline_spark.operators.quality import (
    Rule,
    between_rule,
    not_null_rule,
    observe_quality,
)
from nyc_taxi_data_pipeline_spark.operators.warehouse import fact_trip, star_dims
from nyc_taxi_data_pipeline_spark.sources.io import (
    write_parquet,
    write_parquet_idempotent,
)

def staging_rules() -> list[Rule]:
    """The GX suite's shape (validate_trip_data.json:5-92), applied to
    staging. Built lazily — Column construction needs an active session."""
    return [
        not_null_rule("vendor_id"),
        not_null_rule("rate_code_id"),
        not_null_rule("pickup_location_id"),
        not_null_rule("dropoff_location_id"),
        not_null_rule("payment_type_id"),
        not_null_rule("service_type"),
        between_rule("trip_distance", 0, 100),
    ]


def run_batch_pipeline(
    spark: SparkSession,
    raw_trips: DataFrame,
    lake_dir: str,
    coerce_null_to_zero: bool = False,
) -> dict:
    """Execute the full raw→star lifecycle into `lake_dir`; returns zone
    paths, row counts, and the quality report.

    Writes are idempotent: processed/staging use dynamic partition
    overwrite (rerunning a month replaces that month, nothing else);
    warehouse tables are small rollups and overwrite atomically."""
    zones = {z: os.path.join(lake_dir, z) for z in ("processed", "staging", "warehouse")}

    # raw → processed (P1-P6) — month-grain partitions: coarse enough to
    # avoid small-file explosion, fine enough for pruning. Hashing on the
    # partition key sends each partition to exactly one task, so it lands
    # as one file; the explicit count (one bucket per core) keeps AQE from
    # coalescing the exchange into a single task that writes every
    # partition in turn. Empty buckets write no file
    tasks = spark.sparkContext.defaultParallelism
    processed = normalize(raw_trips, coerce_null_to_zero=coerce_null_to_zero)
    processed = processed.withColumn(
        "pickup_month", F.date_format("pickup_datetime", "yyyy-MM")
    ).repartition(tasks, "pickup_month")
    write_parquet_idempotent(processed, zones["processed"], ["pickup_month"])

    # processed → staging (F1-F3 + A1/A2) — partitioned by year. The read
    # covers the whole processed zone, so its observed row count is the
    # zone's, other months included. Each read-back takes the schema of
    # the frame just written, which spares a schema-inference job
    processed_back, processed_obs = observe_quality(
        spark.read.schema(processed.schema)
        .parquet(zones["processed"])
        .drop("pickup_month"),
        [],
    )
    staging = staging_aggregate(
        derive_time_dims(processed_back, "pickup_datetime")
    ).repartition(tasks, "year")
    write_parquet_idempotent(staging, zones["staging"], ["year"])

    # staging → star. The fact write reads every staging row before its
    # dim predicates filter them, so the staging count and the quality
    # gate (the GX checkpoint, §2.11) ride it
    staging_back = (
        spark.read.schema(staging.schema)
        .parquet(zones["staging"])
        .withColumn("year", F.col("year").cast("string"))
    )
    rules = staging_rules()
    gated, staging_obs = observe_quality(staging_back, rules)
    star = {**star_dims(staging_back), "fact_trip": fact_trip(gated)}
    star_obs = {}
    # one worker per table: the seven writes are independent, and each is
    # a few small jobs, so they overlap instead of queueing. The wrapper
    # carries this thread's job group, local properties and job tags into
    # the pool thread. Wrap once per write: each wrap copies the properties
    # once, and writes sharing one copy would overwrite each other's SQL
    # execution id in it. Leaving the pool joins every worker, so a failed
    # write never outlives the call
    with ThreadPoolExecutor(len(star), thread_name_prefix="star-write") as pool:
        futures = []
        for name, table in star.items():
            observed, star_obs[name] = observe_quality(table, [])
            write = inheritable_thread_target(spark)(write_parquet)
            path = os.path.join(zones["warehouse"], name)
            futures.append(pool.submit(write, observed, path))
        for future in futures:  # table order: the first error is re-raised
            future.result()

    gate = staging_obs.get
    counts = {
        "processed": processed_obs.get["observed_rows"],
        "staging": gate["observed_rows"],
        **{name: obs.get["observed_rows"] for name, obs in star_obs.items()},
    }
    quality = {r.name: gate[r.name] for r in rules}
    return {"zones": zones, "counts": counts, "quality": quality}
