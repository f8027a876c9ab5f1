"""The catalog-entry runner (tools/entries.py), in process on the test
session: oracle checks, warm timing and the session-free listing."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_data_pipeline_spark.plans._base import Query  # noqa: E402
from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from tests.oracle_harness import SF_DIR  # noqa: E402
from tools import entries  # noqa: E402


def test_check_passes_an_oracle_entry_and_fails_wrong_ones(spark):
    wrong = Query(
        name="_off_by_one",
        spark=lambda s, _sf: s.range(3).selectExpr("id AS x"),
        oracle="SELECT i + 1 AS x FROM range(3) t(i)",
        doc="",
    )
    broken = Query(
        name="_no_such_table",
        spark=lambda s, _sf: s.table("_no_such_table"),
        oracle="SELECT 1 AS x",
        doc="",
    )
    reports = dict(
        entries.check(spark, [REGISTRY["q01_pricing_summary"], wrong, broken], SF_DIR)
    )
    assert reports["q01_pricing_summary"]["values_match"]
    row = entries.parity_row(reports["q01_pricing_summary"])
    assert row["values_match"] and row["spark_s"] > 0 and row["oracle_s"] > 0
    off = reports["_off_by_one"]
    assert off["types_match"] and off["spark_rows"] == off["duck_rows"] == 3
    assert not off["values_match"] and off["first_mismatches"]
    assert not reports["_no_such_table"]["values_match"]
    assert "error" in entries.parity_row(reports["_no_such_table"])


def test_time_returns_a_per_entry_record(spark):
    result = entries.time_entries(spark, ["q01_pricing_summary"], SF_DIR, reps=2)
    rec = result["q01_pricing_summary"]
    assert len(rec["runs"]) == 2 and rec["min"] == min(rec["runs"]) > 0
    assert not spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001 — reclaimed


def test_list_runs_without_a_session(monkeypatch, capsys):
    import nyc_taxi_data_pipeline_spark.session as session

    def no_session(*a, **k):
        raise AssertionError("list must not start Spark")

    monkeypatch.setattr(session, "get_spark", no_session)
    assert entries.main(["list"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[0] for ln in lines] == list(REGISTRY)
