"""The correctness gate passes a correct result and flags a wrong one."""

import os

import pytest

import gate
import workloads
from nyc_taxi_data_pipeline_spark.plans._base import Query
from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

SF_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.01")


@pytest.fixture(scope="module")
def spark():
    from nyc_taxi_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_entry_gate_flags_a_wrong_result(spark):
    right = REGISTRY["q01_pricing_summary"]
    from tests.oracle_harness import duck_connection

    with duck_connection(SF_DIR) as con:
        assert gate.entry_ok(spark, con, right, SF_DIR) == (True, "")
        one_row_short = Query(right.name, lambda s, d: right.spark(s, d).limit(1), right.oracle, "")
        ok, why = gate.entry_ok(spark, con, one_row_short, SF_DIR)
        assert not ok and why.startswith("values")
        raises = Query(right.name, lambda s, d: s.sql("SELECT no_such_column"), right.oracle, "")
        ok, why = gate.entry_ok(spark, con, raises, SF_DIR)
        assert not ok and "AnalysisException" in why


def test_star_gate_flags_a_wrong_count_and_sum(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = str(tmp_path / "raw")
    workloads.write_raw_trips(raw, 5, rows=5_000, files=2)
    want = gate.expected_star(raw)
    fact = tmp_path / "fact_trip"
    fact.mkdir()
    # one row per measure holding the expected sum stands in for the fact table
    pq.write_table(
        pa.table({m: [v] for m, v in want["fact_sums"].items()}), str(fact / "part-0.parquet")
    )
    quality = {"vendor_id_not_null": 0, "trip_distance_between_0_100": want["distance_violations"]}
    report = {"counts": dict(want["counts"]), "quality": quality}
    assert gate.star_mismatches(want, report, str(fact)) == []

    report["counts"]["fact_trip"] += 1
    assert gate.star_mismatches(want, report, str(fact)) == [
        f"fact_trip: {want['counts']['fact_trip'] + 1} != {want['counts']['fact_trip']}"
    ]
    report["counts"]["fact_trip"] -= 1
    off = dict(want["fact_sums"], fare_amount=want["fact_sums"]["fare_amount"] + 0.5)
    pq.write_table(pa.table({m: [v] for m, v in off.items()}), str(fact / "part-0.parquet"))
    assert [m.split(":")[0] for m in gate.star_mismatches(want, report, str(fact))] == [
        "fact_trip.fare_amount"
    ]
