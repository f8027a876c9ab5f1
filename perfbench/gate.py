"""Correctness gate, run after the timed passes and outside every timing.

adhoc_sql and stream_drain rebuild each entry, collect it and compare it
with the entry's DuckDB oracle through the repository's own oracle
harness (`tests/oracle_harness.py`, the same comparison the test suite
makes). etl_star recomputes, with DuckDB over the generated raw parquet,
the zone row counts the pipeline reported and the per-measure sums of the
fact table it wrote.
"""

from __future__ import annotations

import math
import os

from nyc_taxi_data_pipeline_spark.operators.aggregate import MEASURES

def entry_ok(spark, con, query, sf_dir: str) -> tuple[bool, str]:
    """(passed, reason) of one catalog entry against its oracle."""
    from tests.oracle_harness import compare_query

    try:
        rep = compare_query(spark, con, query, sf_dir)
    except Exception as e:  # noqa: BLE001 — a failing entry is a gate result
        return False, f"{type(e).__name__}: {str(e)[:200]}"
    if not rep["cols_match"]:
        return False, f"columns {rep['spark_cols']} != {rep['duck_cols']}"
    if not rep["types_match"]:
        return False, f"types {rep['type_mismatches']}"
    if not rep["values_match"]:
        return False, f"values ({rep['spark_rows']} vs {rep['duck_rows']} rows) {rep['first_mismatches'][:1]}"
    return True, ""


_STAGING = """
SELECT VendorID AS vendor_id, CAST(RatecodeID AS INTEGER) AS rate_code_id,
       PULocationID AS pickup_location_id, DOLocationID AS dropoff_location_id,
       payment_type AS payment_type_id, {sums}
FROM read_parquet('{raw}/*.parquet')
WHERE passenger_count IS NOT NULL
GROUP BY 1, 2, 3, 4, 5, tpep_pickup_datetime, tpep_dropoff_datetime
"""


def expected_star(raw_dir: str) -> dict:
    """Zone row counts, quality-gate result and fact measure sums the
    pipeline must produce from the raw trips in `raw_dir`, recomputed
    independently in DuckDB.

    Staging is the dropna'd raw rows grouped on the pipeline's keys (both
    timestamps among them) with every measure summed; the fact keeps the
    staging rows whose vendor and rate code pass the dimension filters
    (< 3 and < 7)."""
    import duckdb

    sums = ", ".join(f"sum({m}) AS {m}" for m in MEASURES)
    staging = _STAGING.format(raw=raw_dir, sums=sums)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP TABLE staging AS {staging}")
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        fact = con.execute(
            "SELECT count(*), "
            + ", ".join(f"sum({m})" for m in MEASURES)
            + " FROM staging WHERE vendor_id < 3 AND rate_code_id < 7"
        ).fetchone()
        distinct = lambda col, where="TRUE": one(  # noqa: E731
            f"SELECT count(DISTINCT {col}) FROM staging WHERE {where}"
        )
        return {
            "counts": {
                "processed": one(
                    f"SELECT count(*) FROM read_parquet('{raw_dir}/*.parquet') "
                    "WHERE passenger_count IS NOT NULL"
                ),
                "staging": one("SELECT count(*) FROM staging"),
                "dim_vendor": distinct("vendor_id", "vendor_id < 3"),
                "dim_rate_code": distinct("rate_code_id", "rate_code_id < 7"),
                "dim_payment": distinct("payment_type_id"),
                "dim_service_type": 1,
                "dim_pickup_location": distinct("pickup_location_id"),
                "dim_dropoff_location": distinct("dropoff_location_id"),
                "fact_trip": fact[0],
            },
            "distance_violations": one(
                "SELECT count(*) FROM staging WHERE NOT trip_distance BETWEEN 0 AND 100"
            ),
            "fact_sums": dict(zip(MEASURES, fact[1:])),
        }
    finally:
        con.close()


def written_fact_sums(fact_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        sums = ", ".join(f"sum({m})" for m in MEASURES)
        row = con.execute(
            f"SELECT {sums} FROM read_parquet('{os.path.join(fact_dir, '*.parquet')}')"
        ).fetchone()
        return dict(zip(MEASURES, row))
    finally:
        con.close()


def star_mismatches(expected: dict, report: dict, fact_dir: str) -> list[str]:
    """Every way the pipeline's report and written fact table differ from
    the DuckDB recomputation; empty when the run is correct. Sums of
    doubles are compared to a relative 1e-9, since summation order differs
    between the engines."""
    out = [
        f"{zone}: {report['counts'].get(zone)} != {n}"
        for zone, n in expected["counts"].items()
        if report["counts"].get(zone) != n
    ]
    got = written_fact_sums(fact_dir)
    for m, want in expected["fact_sums"].items():
        if not math.isclose(got[m], want, rel_tol=1e-9, abs_tol=1e-6):
            out.append(f"fact_trip.{m}: {got[m]} != {want}")
    want_quality = {r: 0 for r in report["quality"]}
    want_quality["trip_distance_between_0_100"] = expected["distance_violations"]
    if report["quality"] != want_quality:
        out.append(f"quality {report['quality']} != {want_quality}")
    return out
