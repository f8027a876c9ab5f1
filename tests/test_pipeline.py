"""End-to-end batch pipeline (SURVEY.md §3.1) with real zone writes:
raw → processed → staging → warehouse + quality gate, idempotent reruns,
dynamic partition overwrite semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.plans.pipeline import run_batch_pipeline
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
    # the GX-shape gate passes on engine-produced staging
    assert all(v == 0 for v in report["quality"].values()), report["quality"]

    # idempotency: the exact same run converges to the same lake
    report2 = run_batch_pipeline(spark, raw, lake)
    assert report2["counts"] == counts


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
