"""End-to-end batch pipeline (SURVEY.md §3.1) with real zone writes:
raw → processed → staging → warehouse + quality gate, idempotent reruns,
dynamic partition overwrite semantics.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.plans.pipeline import (
    run_batch_pipeline,
    staging_rules,
)
from nyc_taxi_data_pipeline_spark.plans.queries import _raw_trips

SF = "/root/testdata/sf0.001"


def test_batch_pipeline_end_to_end(spark, tmp_path):
    raw = _raw_trips(spark, SF)
    lake = str(tmp_path / "lake")
    report = run_batch_pipeline(spark, raw, lake)

    counts = report["counts"]
    # dropna removes the null-passenger rows (l_quantity > 45)
    expected_processed = raw.filter(F.col("passenger_count").isNotNull()).count()
    assert counts["processed"] == expected_processed
    # near-row-grain grouping: staging can only shrink
    assert 0 < counts["staging"] <= counts["processed"]
    # fact: dims' domain filters act as semi-joins (rate_code < 7 drops rows)
    assert 0 < counts["fact_trip"] <= counts["staging"]
    # dim cardinalities derived from the data, with the dbt domain filters
    staging_back = spark.read.parquet(f"{lake}/staging")
    assert counts["dim_vendor"] == (
        staging_back.filter(F.col("vendor_id") < 3).select("vendor_id").distinct().count()
    )
    assert counts["dim_rate_code"] == (
        staging_back.filter(F.col("rate_code_id") < 7)
        .select("rate_code_id").distinct().count()
    )
    assert counts["dim_payment"] == (
        staging_back.select("payment_type_id").distinct().count()
    )
    # the GX-shape gate passes on engine-produced staging, and reports
    # exactly its rules (no observation bookkeeping leaks into it)
    assert list(report["quality"]) == [r.name for r in staging_rules()]
    assert all(v == 0 for v in report["quality"].values()), report["quality"]

    _assert_one_file_per_partition(lake)

    # idempotency: the exact same run converges to the same lake
    report2 = run_batch_pipeline(spark, raw, lake)
    assert report2["counts"] == counts
    _assert_one_file_per_partition(lake)


def _assert_one_file_per_partition(lake: str) -> None:
    """Each zone is written by one task per core and the partition key
    hashes to exactly one of them, so every partition directory of the
    processed and staging zones holds exactly one parquet file."""
    for zone, key in (("processed", "pickup_month"), ("staging", "year")):
        files = {
            d.name: sum(1 for f in d.iterdir() if f.name.endswith(".parquet"))
            for d in Path(lake, zone).iterdir()
            if d.is_dir() and d.name.startswith(f"{key}=")
        }
        assert len(files) > 1, f"{zone}: need several partitions"
        assert set(files.values()) == {1}, f"{zone}: {files}"


def test_dynamic_partition_overwrite_preserves_other_partitions(spark, tmp_path):
    """Rerunning ONE year must replace only that year's partitions in the
    staging zone — everything else survives (the engine's idempotent-write
    contract replacing the reference's skip-if-exists upload loop)."""
    raw = _raw_trips(spark, SF)
    lake = str(tmp_path / "lake")
    run_batch_pipeline(spark, raw, lake)
    staging_path = f"{lake}/staging"
    before = {
        r["year"]: r["n"]
        for r in spark.read.parquet(staging_path)
        .groupBy("year").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(before) > 1, "need multiple year partitions for this test"

    # rerun with only 1997 trips
    one_year = raw.filter(F.year("tpep_pickup_datetime") == 1997)
    run_batch_pipeline(spark, one_year, lake)
    after = {
        r["year"]: r["n"]
        for r in spark.read.parquet(staging_path)
        .groupBy("year").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert after == before  # 1997 replaced with identical data; rest untouched


# Jobs one run_batch_pipeline call takes on the sf0.001 trips, lake
# empty or not: one per zone write plus what the write's own plan needs
# (a shuffle stage per exchange, a sampling job per distributed ORDER BY).
# The zone read-backs take the written frame's schema, so they infer
# none (one job each, 25 in all, when they did). Reading each zone back
# to count it, a separate quality-check job, a range-sort sampling job per
# code dim and the fact re-deriving its three dims took it to 66.
PIPELINE_JOB_BUDGET = 23


def test_batch_pipeline_job_budget(spark, tmp_path):
    """Row counts and the quality gate ride the zone writes as
    observations: the pipeline launches no job beyond its writes."""
    raw = _raw_trips(spark, SF)
    lake = str(tmp_path / "lake")
    sc = spark.sparkContext
    jobs = []
    for run in range(2):  # a fresh lake, then a rerun over it
        group = f"pipeline-job-budget-{run}"
        sc.setJobGroup(group, group)
        try:
            run_batch_pipeline(spark, raw, lake)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert max(jobs) <= PIPELINE_JOB_BUDGET, f"jobs per run: {jobs}"


def _marker_job(spark, group: str) -> int:
    """Run one single-task job in `group` and return its job id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def test_pipeline_jobs_stay_in_caller_job_group(spark, tmp_path, monkeypatch):
    """The star writes run on pool threads. Job groups are thread-local
    properties, so every job those threads launch must still carry the
    caller's group: none may fall into the ungrouped set, and the group
    must hold every job launched between two marker jobs. Otherwise the
    job budget above and per-layer attribution undercount.

    Each write must also run on its own copy of those properties: Spark
    keeps a query's SQL execution id in them while it runs, so concurrent
    writes sharing one copy overwrite each other's id, and their jobs and
    file counts land on the wrong execution though every job keeps the
    group."""
    from nyc_taxi_data_pipeline_spark.plans import pipeline

    sc = spark.sparkContext
    write = pipeline.write_parquet
    seen = {}

    def recording_write(df, path, *args, **kwargs):
        props = sc._jsc.sc().getLocalProperties()
        seen[os.path.basename(path)] = (
            sc._jvm.System.identityHashCode(props),
            props.getProperty("spark.jobGroup.id"),
        )
        write(df, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet", recording_write)
    raw = _raw_trips(spark, SF)
    tracker = sc.statusTracker()
    before = _marker_job(spark, "pipeline-group-before")
    group = "pipeline-group-run"
    sc.setJobGroup(group, group)
    try:
        run_batch_pipeline(spark, raw, str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = _marker_job(spark, "pipeline-group-after")

    ungrouped = [j for j in tracker.getJobIdsForGroup(None) if before < j < after]
    assert ungrouped == [], f"jobs outside the caller's group: {ungrouped}"
    launched = set(range(before + 1, after))
    assert launched and set(tracker.getJobIdsForGroup(group)) == launched
    assert len(seen) == 7 and {g for _, g in seen.values()} == {group}, seen
    assert len({i for i, _ in seen.values()}) == 7, f"shared properties: {seen}"


def test_star_write_failure_propagates(spark, tmp_path, monkeypatch):
    """A failed star write raises out of run_batch_pipeline, and the call
    returns only after every pool thread is done."""
    from nyc_taxi_data_pipeline_spark.plans import pipeline

    write = pipeline.write_parquet

    def failing_write(df, path, *args, **kwargs):
        if os.path.basename(path) == "dim_payment":
            raise RuntimeError("dim_payment write failed")
        write(df, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet", failing_write)
    raw = _raw_trips(spark, SF)
    with pytest.raises(RuntimeError, match="dim_payment write failed"):
        run_batch_pipeline(spark, raw, str(tmp_path / "lake"))
    pool = [t.name for t in threading.enumerate() if t.name.startswith("star-write")]
    assert pool == [], f"pool threads still running: {pool}"


def test_fact_trip_matches_dim_join_form(spark):
    """fact_trip keys its rows through the dims' domain predicates and
    surrogate keys computed in place. Oracle: the reference's form, inner
    joins to the three dims built as distinct filtered ids of the same
    staging frame — on rows with null and out-of-domain vendor, rate code
    and payment values."""
    from nyc_taxi_data_pipeline_spark.functions.scalar import surrogate_key
    from nyc_taxi_data_pipeline_spark.operators.warehouse import fact_trip

    rows = [
        # vendor, rate, payment, fare
        (1, 1, 1, 10.0),
        (1, 1, 1, 10.0),  # exact duplicate: both rows stay
        (2, 6, 2, 11.5),
        (2, 5, 6, 12.0),
        (3, 1, 1, 13.0),  # vendor out of domain (< 3)
        (4, 2, 2, 14.0),
        (None, 1, 1, 15.0),  # null vendor
        (1, 7, 1, 16.0),  # rate code out of domain (< 7)
        (2, 99, 3, 17.0),
        (1, None, 2, 18.0),  # null rate code
        (2, 2, None, 19.0),  # null payment
        (None, None, None, 20.0),
        (1, -1, 4, 21.0),  # negative rate code is inside the domain
    ]
    staging = spark.createDataFrame(
        [
            (v, r, i % 5, (i * 7) % 5, p, 1,
             f"2023-01-{i + 1:02d} 08:00:00", f"2023-01-{i + 1:02d} 08:30:00", fare)
            for i, (v, r, p, fare) in enumerate(rows)
        ],
        "vendor_id int, rate_code_id int, pickup_location_id int, "
        "dropoff_location_id int, payment_type_id int, service_type int, "
        "pickup_datetime string, dropoff_datetime string, fare_amount double",
    ).withColumn("pickup_datetime", F.to_timestamp("pickup_datetime")).withColumn(
        "dropoff_datetime", F.to_timestamp("dropoff_datetime")
    )

    def dim(id_col, key, domain=None):
        keep = F.col(id_col).isNotNull()
        if domain is not None:
            keep = keep & domain
        ids = staging.filter(keep).select(id_col).distinct()
        return F.broadcast(ids.select(surrogate_key(id_col).alias(key), id_col))

    joined = (
        staging.join(dim("vendor_id", "vendor_key", F.col("vendor_id") < 3), "vendor_id")
        .join(dim("rate_code_id", "rate_code_key", F.col("rate_code_id") < 7), "rate_code_id")
        .join(dim("payment_type_id", "payment_type_key"), "payment_type_id")
    )
    trip_id = surrogate_key(
        "vendor_id", "rate_code_id", "pickup_location_id", "dropoff_location_id",
        "payment_type_id", "service_type", "pickup_datetime", "dropoff_datetime",
    ).alias("trip_id")
    want = joined.select(
        trip_id, "vendor_key", "rate_code_key", "payment_type_key",
        "pickup_datetime", "dropoff_datetime", "fare_amount",
    )

    got = fact_trip(staging)
    assert got.columns == want.columns
    assert got.count() == want.count() == 5
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_dim_location_latlong_branch(spark):
    """dim_pickup_location.sql null semantics are asymmetric: null vendor_id
    drops the row (CTE filter), null location_id drops the row (outer
    filter), but null lat/long rows are KEPT — and distinct runs over the
    full (id, lat, long) triple."""
    from nyc_taxi_data_pipeline_spark.operators.warehouse import dim_location

    staging = spark.createDataFrame(
        [
            (1, 10, 40.7, -74.0),
            (1, 10, 40.7, -74.0),    # exact dup → collapsed by distinct
            (1, 10, 40.8, -74.0),    # same id, new coords → separate dim row
            (2, 11, None, -73.9),    # null latitude → KEPT
            (None, 12, 40.6, -73.8), # null vendor → dropped (CTE filter)
            (1, None, 40.5, -73.7),  # null location id → dropped (outer filter)
        ],
        "vendor_id int, pickup_location_id int, pickup_latitude double, pickup_longitude double",
    )
    got = dim_location(staging, "pickup")
    assert got.columns == [
        "pickup_location_key",
        "pickup_location_id",
        "pickup_latitude",
        "pickup_longitude",
    ]
    rows = sorted(
        (r["pickup_location_id"], r["pickup_latitude"], r["pickup_longitude"])
        for r in got.collect()
    )
    assert rows == [(10, 40.7, -74.0), (10, 40.8, -74.0), (11, None, -73.9)]
    # surrogate keys are unique per distinct triple
    assert got.select("pickup_location_key").distinct().count() == 3


def test_dim_location_without_coordinates(spark):
    """When staging has no lat/long columns (the synthetic-staging shape),
    the dim degrades to distinct location ids."""
    from nyc_taxi_data_pipeline_spark.operators.warehouse import dim_location

    staging = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11), (None, 12), (1, None)],
        "vendor_id int, dropoff_location_id int",
    )
    rows = sorted(
        r["dropoff_location_id"] for r in dim_location(staging, "dropoff").collect()
    )
    assert rows == [10, 11]


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """The LLM-curation job: gates → dedup → chunk → mix, each zone
    WAP-published. Reruns must publish NEW versions with IDENTICAL row
    counts (deterministic stages, snapshot isolation for readers)."""
    from nyc_taxi_data_pipeline_spark.plans.curation_pipeline import (
        clean_documents,
        run_curation_pipeline,
    )
    from nyc_taxi_data_pipeline_spark.sources.catalog import load_table
    from nyc_taxi_data_pipeline_spark.sources.io import read_zone_snapshot

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "curated")
    report = run_curation_pipeline(spark, sf, out)
    assert report["published"], report

    docs = load_table(spark, sf, "documents")
    want_clean = clean_documents(docs).count()
    assert 0 < want_clean <= docs.count()
    assert report["rows"]["clean_documents"] == want_clean
    assert report["rows"]["chunks"] >= want_clean  # every doc chunks >= once
    assert 0 < report["rows"]["mix_manifest"] <= 10

    clean_zone = read_zone_snapshot(spark, f"{out}/clean_documents")
    assert clean_zone.count() == want_clean
    chunks_zone = read_zone_snapshot(spark, f"{out}/chunks")
    # chunk reassembly spot check: total chunk tokens == clean corpus tokens
    from pyspark.sql import functions as F

    assert (
        chunks_zone.agg(F.sum("n_tokens")).first()[0]
        == clean_zone.agg(F.sum("n_tokens")).first()[0]
    )

    rerun = run_curation_pipeline(spark, sf, out)
    assert rerun["versions"] == {
        "clean_documents": 1, "chunks": 1, "mix_manifest": 1,
    }
    assert rerun["rows"] == report["rows"]
